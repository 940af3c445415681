"""F7 population loaders + S11 QA sinks."""

import json

from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark.sources.population import (
    load_age_population_csv,
    load_msoa_population_csv,
    load_population_json,
)
from coronavirus_dashboard_pipeline_etl_spark.sources.qa_outputs import (
    write_archive_csv,
    write_records_json,
)


def test_population_json(spark, tmp_path):
    doc = {
        "general": {"E92000001": 56550138, "E06000001": 93663},
        "ageSexBroadBreakdown": {"total": {"E92000001": {"0_to_4": 3300000}}},
        "ageSex5YearBreakdown": {
            "male": {"E92000001": {"0_4": 1700000, "5_9": 1800000}},
            "female": {"E92000001": {"0_4": 1600000}},
        },
    }
    p = tmp_path / "population.json"
    p.write_text(json.dumps(doc))
    dims = load_population_json(spark, str(p))
    general = {r["areaCode"]: r["population"] for r in dims["general"].collect()}
    assert general == {"E92000001": 56550138.0, "E06000001": 93663.0}
    five = dims["age_sex_5yr"].collect()
    assert {(r["sex"], r["age"]) for r in five} == {
        ("male", "0_4"), ("male", "5_9"), ("female", "0_4"),
    }


def test_population_csvs(spark, tmp_path):
    (tmp_path / "age.csv").write_text(
        "areaCode,age,population\nE06000001,00_04,5147\nE06000001,05_09,6201\n"
    )
    (tmp_path / "msoa.csv").write_text(
        "areaCode,population\nE02002483,10332\n"
    )
    age = load_age_population_csv(spark, str(tmp_path / "age.csv")).collect()
    assert {(r["age"], r["population"]) for r in age} == {
        ("00_04", 5147.0), ("05_09", 6201.0),
    }
    msoa = load_msoa_population_csv(spark, str(tmp_path / "msoa.csv")).collect()
    assert msoa[0]["population"] == 10332.0


def test_qa_outputs(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("a", 5.0),
            ("b", 5.5),
            ("c", None),
            ("d", float("nan")),
            ("e", float("inf")),
            ("f", 1e20),
        ],
        "k string, v double",
    )
    write_records_json(df, str(tmp_path / "out_json"), numeric_cols=["v"])
    back = [
        json.loads(line)
        for f in (tmp_path / "out_json").glob("part-*")
        for line in f.read_text().splitlines()
    ]
    assert all("v" in r for r in back)  # null fields render, never vanish
    by_k = {r["k"]: r["v"] for r in back}
    assert by_k["a"] == 5            # whole float -> JSON integer
    assert isinstance(by_k["a"], int)
    assert by_k["b"] == 5.5          # fractional -> JSON double
    assert by_k["c"] is None
    assert by_k["d"] is None         # NaN -> null (pandas-JSON behaviour)
    assert by_k["e"] is None         # Inf -> null, write must not throw
    assert by_k["f"] == 1e20         # beyond-long double survives try_cast

    write_archive_csv(df, str(tmp_path / "out_csv"))
    text = "".join(
        f.read_text() for f in (tmp_path / "out_csv").glob("part-*")
    )
    assert "k,v" in text and "a,5.0" in text


def test_load_table_timestamp_vintages(spark, tmp_path):
    """The driver testdata has changed its `ts` encoding twice
    (TIMESTAMP(NANOS) -> timestamp[us] NTZ); load_table must normalise
    every parquet timestamp vintage — bigint-nanos, NTZ micros, and
    UTC-adjusted (LTZ) micros — to TimestampType with identical epoch
    micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from coronavirus_dashboard_pipeline_etl_spark.sources.tables import load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    encodings = {
        "nanos": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "ntz": pa.array(micros, pa.timestamp("us")),
        "ltz": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    got = {}
    for label, arr in encodings.items():
        d = tmp_path / label
        d.mkdir()
        pq.write_table(
            pa.table({"ts": arr, "event_id": pa.array([1, 2], pa.int64())}),
            str(d / "events.parquet"),
            store_schema=False,
        )
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (label, df.dtypes)
        got[label] = sorted(
            r[0]
            for r in df.select(F.unix_micros("ts")).collect()
        )
    assert got["nanos"] == got["ntz"] == got["ltz"] == sorted(micros)


def test_dump_load_roundtrip(spark, tmp_path):
    """S15 (db_dumper/dumper.py:82-124, db_loader/loader.py:67-171):
    table -> gzip JSON-lines + manifest -> reload must be row-identical
    (including timestamps through their ISO-string serialisation and
    typed nulls), and merge_upsert must apply ON CONFLICT semantics."""
    from datetime import datetime, timezone

    import pytest

    from coronavirus_dashboard_pipeline_etl_spark.sources.dump_load import (
        dump_table,
        load_dump,
        merge_upsert,
    )

    rows = [
        (1, "alpha", 1.5, datetime(2023, 11, 14, 22, 13, 20, 123456),
         datetime(2023, 11, 14, 22, 13, 20, 654321)),
        (2, "beta", None, datetime(2024, 1, 1, 0, 0, 0), None),
        (3, None, -7.25, None, datetime(2024, 6, 1, 1, 2, 3, 4)),
    ]
    # one LTZ and one NTZ column: the two flavours take SEPARATE
    # format options (timestampFormat vs timestampNTZFormat) and both
    # must round-trip at full microsecond precision
    df = spark.createDataFrame(
        rows,
        "id bigint, name string, score double, updated timestamp, "
        "logged timestamp_ntz",
    )
    d = str(tmp_path / "dump")
    dump_table(df, d, "covid19.sample", ["id"])
    back, manifest = load_dump(spark, d)
    assert manifest["primary_keys"] == ["id"]
    assert manifest["table_name"] == "covid19.sample"
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())

    incoming = spark.createDataFrame(
        [
            (2, "beta2", 9.0, datetime(2024, 6, 1), None),  # conflict
            (4, "delta", 0.5, None, None),                  # new -> insert
        ],
        "id bigint, name string, score double, updated timestamp, "
        "logged timestamp_ntz",
    )
    merged = {r["id"]: r for r in merge_upsert(back, incoming, ["id"]).collect()}
    assert set(merged) == {1, 2, 3, 4}
    assert merged[2]["name"] == "beta2" and merged[2]["score"] == 9.0
    assert merged[1]["name"] == "alpha"  # untouched rows survive

    # a column-set mismatch raises, naming the columns, instead of
    # silently dropping the extra incoming column
    with pytest.raises(ValueError, match="only in incoming: \\['extra'\\]"):
        merge_upsert(back, incoming.withColumn("extra", F.lit(1)), ["id"])
    with pytest.raises(ValueError, match="only in existing: \\['logged'\\]"):
        merge_upsert(back, incoming.drop("logged"), ["id"])


def test_path_metadata_input_file_routing(spark, tmp_path):
    # real input_file_name() path: write pattern-named parquet files,
    # read by glob, recover per-file routing metadata + process label
    # (reference utilities/data_files.py:69-130 parity)
    from coronavirus_dashboard_pipeline_etl_spark.sources.path_metadata import (
        parse_filepaths,
        with_input_file_metadata,
        with_process_label,
    )

    d = tmp_path / "2024-05-01"
    d.mkdir()
    spark.range(3).coalesce(1).write.parquet(
        str(d / "cases-by-specimen-date_202405010930.parquet")
    )
    spark.range(2).coalesce(1).write.parquet(
        str(d / "MSOA_vaccinations-by-vaccination-date_202405010930.parquet")
    )
    # NOTE: each .parquet "file" written by Spark is a DIRECTORY of
    # part files, so input_file_name()'s last two segments are
    # "<name>.parquet/part-...". The operator anchors on the LAST TWO
    # segments; write single files the way a blob store presents them.
    import shutil

    for sub in d.iterdir():
        part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
        tmp = d / (sub.name + ".tmp")
        shutil.copyfile(part, tmp)
        shutil.rmtree(sub)
        tmp.rename(d / sub.name)

    df = spark.read.parquet(str(d / "*.parquet"))
    out = with_process_label(with_input_file_metadata(df)).collect()
    assert len(out) == 5
    by_cat = {}
    for r in out:
        by_cat.setdefault((r["category"], r["area_type"]), set()).add(
            r["process_name"]
        )
        assert r["date"] == "2024-05-01"
        assert r["timestamp"] == "202405010930"
        assert r["source_path"].startswith("file:")
    # plain category with no subcategory has no (cat, NULL, NULL)
    # mapping -> NULL label (reference would KeyError; we quarantine)
    assert by_cat[("cases-by-specimen-date", None)] == {None}
    assert by_cat[("vaccinations-by-vaccination-date", "MSOA")] == {
        "MSOA: VACCINATION - EVENT DATE"
    }

    # main-fallback + garbage via parse_filepaths on a literal listing
    listing = spark.createDataFrame(
        [("data_202109301358.json",), ("misc/readme.txt",)], "path string"
    )
    rows = {r["path"]: r for r in parse_filepaths(listing).collect()}
    main = rows["data_202109301358.json"]
    assert (main["category"], main["date"], main["timestamp"]) == (
        "main", "2021-09-30", "2021-09-30T13:58:00"
    )
    junk = rows["misc/readme.txt"]
    assert all(
        junk[c] is None
        for c in ("date", "area_type", "category", "subcategory", "timestamp")
    )

"""The benchmark's operations, driven through the library's public
functions only: ``plans.main_pipeline`` for the release, upsert and
compaction paths and ``plans.serving`` for the queries.

Seam gap (see NOTES.md): the store ``to_long_store`` writes carries
``area_type``/``area_code``/``metric`` but no ``area_id``/``metric_id``,
which ``plans.serving`` joins on. ``Store.time_series`` derives both ids
from dimensions the benchmark builds itself.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark.plans import main_pipeline as mp
from coronavirus_dashboard_pipeline_etl_spark.plans import serving
from coronavirus_dashboard_pipeline_etl_spark.sources.population import (
    load_population_json,
)

import gen
from spans import plan_metrics

HASH_KEY = b"releasebench"
FAMILIES = (
    "latest_metrics",
    "latest_n_dates",
    "area_percentiles",
    "landing_cache_rows",
    "release_over_release_delta",
    "dose_alignment",
)
DOSE_METRICS = ("cumCasesBySpecimenDate", "cumDeaths28DaysByDeathDate", "cumAdmissions")
LATEST_METRICS = (
    "newCasesBySpecimenDate",
    "newCasesByPublishDate",
    "cumCasesBySpecimenDate",
    "newPCRTestsByPublishDate",
    "newAdmissions",
    "newCasesBySpecimenDateRollingSum",
)
RATE_METRICS = (
    "newCasesBySpecimenDateRollingRate",
    "newCasesByPublishDateRollingRate",
    "newAdmissionsRollingRate",
    "cumCasesBySpecimenDateRate",
)
DELTA_METRICS = ("cumCasesBySpecimenDate", "cumDeaths28DaysByDeathDate", "cumAdmissions")
GROUPS = ("other", "utla", "ltla", "nhstrust")


def group_label(area_type: str) -> str:
    """The store partition group of an area type; ``group_column`` is the
    same rule as a Spark column."""
    return area_type.lower() if area_type in ("utla", "ltla", "nhsTrust") else "other"


def group_column():
    return F.when(
        F.col("area_type").isin("utla", "ltla", "nhsTrust"), F.lower("area_type")
    ).otherwise(F.lit("other"))


def partitions(k: int, groups=GROUPS) -> list[str]:
    return [f"r{k}|{g}" for g in groups]


def files_under(path: str, prefixes=None) -> list[tuple[str, int]]:
    """(partition directory, bytes) of every parquet file in the store."""
    out = []
    root = Path(path)
    if not root.exists():
        return out
    for part in sorted(root.iterdir()):
        if not part.is_dir():
            continue
        pid = part.name.split("=", 1)[-1]
        if prefixes is not None and pid not in prefixes:
            continue
        for f in part.iterdir():
            if f.name.endswith(".parquet"):
                out.append((pid, f.stat().st_size))
    return out


class Store:
    """One benchmark store plus the inputs written for it."""

    def __init__(self, spark, tracer, work: Path, truth: gen.Truth):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.truth = truth
        self.path = str(work / "store")
        work.mkdir(parents=True, exist_ok=True)
        pop_path = work / "population.json"
        pop_path.write_text(gen.population_json(truth))
        self.population = load_population_json(spark, str(pop_path))["general"]
        self.observations: dict[int, dict] = {}
        self.area_ids = {a.code: i + 1 for i, a in enumerate(truth.areas)}
        self.areas = spark.createDataFrame(
            [(self.area_ids[a.code], a.area_type, a.code, a.name) for a in truth.areas],
            "area_id int, area_type string, area_code string, area_name string",
        )
        self.metrics = None
        self.metric_names: list[str] = []

    # --- inputs ------------------------------------------------------------

    def write_release_json(self, k: int) -> str:
        obs = self.truth.release(k)
        self.observations[k] = obs
        path = self.work / f"release_{k}.json"
        path.write_text(gen.release_json(self.truth, obs))
        return str(path)

    def write_revision_json(self, k: int, op: int) -> tuple[str, list[str]]:
        codes, obs = self.truth.revision(self.observations[k], k, op)
        self.observations[k] = obs
        path = self.work / f"revision_{k}_{op}.json"
        path.write_text(gen.release_json(self.truth, obs, codes))
        return str(path), codes

    # --- EP1 -----------------------------------------------------------------

    def _long(self, json_path: str, k: int, split: bool):
        """build_panel -> process_panel -> to_long_store, with each public
        call in its own span. With ``split`` every call's output is also
        materialised into the noop sink so the layer's time can be
        estimated as the difference of consecutive materialisations."""
        t = self.tracer
        with t.span("build_panel.call"):
            panel = mp.build_panel(self.spark, json_path)
        if split:
            before = self._job_ids()
            with t.span("build_panel.noop"):
                _noop(panel)
            t.record("build_panel.parse_tasks", self._tasks_since(before))
        with t.span("process_panel.call"):
            processed = mp.process_panel(panel, self.population)
        if split:
            with t.span("process_panel.noop"):
                _noop(processed)
            t.record("process_panel.exchanges", plan_metrics(processed)["exchanges"])
        with t.span("to_long_store.call"):
            long = mp.to_long_store(
                processed,
                release_id=k,
                partition_group_expr=F.concat(F.lit(f"r{k}|"), group_column()),
                hash_key=HASH_KEY,
            )
        if split:
            with t.span("to_long_store.noop"):
                _noop(long)
            b = t.last_span_s("build_panel.noop")
            p = t.last_span_s("process_panel.noop")
            lg = t.last_span_s("to_long_store.noop")
            t.record("build_panel.call_s", t.last_span_s("build_panel.call"))
            t.record("process_panel.call_s", t.last_span_s("process_panel.call"))
            t.record("build_panel.s", b)
            t.record("process_panel.s", p - b)
            t.record("to_long_store.s", lg - p)
        return long

    def release(self, k: int, json_path: str, split: bool = False) -> float:
        """One EP1 release of ``json_path`` as release ``k``: JSON on disk
        to store files committed. Returns the wall seconds."""
        t = self.tracer
        t0 = time.perf_counter()
        long = self._long(json_path, k, split)
        with t.span("write_store", group=True):
            mp.write_store(long, self.path)
        wall = time.perf_counter() - t0
        if t.enabled:
            group = f"{t.current_op}/write_store"
            t.record("write_store.files", len(files_under(self.path, set(partitions(k)))))
            t.record("write_store.bytes", t.written(group)[1])
            # rows the keyed blake2 digest sent through the Python UDF
            t.record("hashing.python_rows", t.node_rows(group, "EvalPython"))
        if split:
            lg = t.last_span_s("to_long_store.noop")
            t.record("write_store.s", t.last_span_s("write_store") - lg)
        return wall

    def upsert(self, k: int, json_path: str, split: bool = False) -> float:
        """Reprocess a revision batch and merge it into release ``k``;
        the merge's jobs run under the sub-group ``<op>/merge_upsert_store``."""
        t0 = time.perf_counter()
        incoming = self._long(json_path, k, split)
        with self.tracer.span("merge_upsert_store", group=True):
            mp.merge_upsert_store(incoming, self.path)
        wall = time.perf_counter() - t0
        self.tracer.record("merge_upsert_store.s", self.tracer.last_span_s("merge_upsert_store"))
        return wall

    def compact(self, parts: list[str]) -> None:
        """Compact ``parts``; the jobs run under ``<op>/compact_store``."""
        with self.tracer.span("compact_store", group=True):
            mp.compact_store(self.spark, self.path, partitions=parts)
        self.tracer.record("compact_store.s", self.tracer.last_span_s("compact_store"))

    def _job_ids(self) -> set[int]:
        tracker = self.spark.sparkContext.statusTracker()
        return set(tracker.getJobIdsForGroup(self.tracer.current_op) or [])

    def _tasks_since(self, before: set[int]) -> int:
        """Tasks of the jobs the current operation started after ``before``."""
        tracker = self.spark.sparkContext.statusTracker()
        tasks = 0
        for jid in self._job_ids() - before:
            job = tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                info = tracker.getStageInfo(sid)
                tasks += info.numTasks if info else 0
        return tasks

    # --- serving -------------------------------------------------------------

    def load_dimensions(self, metric_names: list[str]) -> None:
        self.metric_names = sorted(metric_names)
        self.metrics = self.spark.createDataFrame(
            list(enumerate(self.metric_names, start=1)),
            "metric_id int, metric string",
        )

    def time_series(self, parts=None):
        """F10 ``time_series`` over the committed store: the ids the
        serving layer joins on are derived here (the seam gap)."""
        store = mp.read_store(self.spark, self.path, partitions=parts)
        keys = self.areas.select("area_id", "area_type", "area_code")
        return (
            store.join(F.broadcast(keys), ["area_type", "area_code"])
            .join(F.broadcast(self.metrics), "metric")
            .select("area_id", "metric_id", "release_id", "date", "payload", "partition_id")
        )

    def query(self, family: str, params: dict):
        """The serving DataFrame of one query."""
        latest = partitions(params["release"])
        if family == "latest_metrics":
            ts = self.time_series(latest)
            if params.get("area_ids"):
                ts = ts.filter(F.col("area_id").isin(params["area_ids"]))
            return serving.latest_metrics(ts, self.areas, self.metrics, params["metrics"])
        if family == "latest_n_dates":
            return serving.latest_n_dates(
                self.time_series(latest), self.areas, self.metrics, params["n"], params["metrics"]
            )
        if family == "area_percentiles":
            return serving.area_percentiles(
                self.time_series(latest), self.areas, self.metrics, params["metric"]
            )
        if family == "landing_cache_rows":
            return serving.landing_cache_rows(
                self.time_series(), self.areas, self.metrics, params["metrics"], params["days"]
            )
        if family == "release_over_release_delta":
            return serving.release_over_release_delta(
                self.time_series(), self.metrics, params["metric"]
            )
        if family == "dose_alignment":
            return serving.dose_alignment(
                self.time_series(latest), self.areas, self.metrics, DOSE_METRICS,
                release_id=params["release"],
            )
        raise ValueError(f"unknown serving family {family!r}")

    def serve(self, family: str, params: dict) -> tuple[float, list]:
        """Run one query with its result collected to the driver."""
        with self.tracer.span(f"serving.{family}"):
            t0 = time.perf_counter()
            df = self.query(family, params)
            rows = df.collect()
            wall = time.perf_counter() - t0
        if self.tracer.enabled:
            pm = plan_metrics(df)
            self.tracer.record(f"serving.{family}.ms", wall * 1000)
            self.tracer.record("serving.plan_ms", pm["plan_ms"])
            self.tracer.record("serving.files_read", pm["files_read"])
            self.tracer.record(
                "serving.rows_scanned_per_row_returned",
                pm["rows_scanned"] / max(1, len(rows)),
            )
        return wall, rows


def query_params(seed: int, i: int, release: int) -> tuple[str, dict]:
    """Seeded parameters of the i-th query of the serving cycle. The seed
    picks which metrics a query reads, never how many, so every seed asks
    for the same amount of work."""
    rng = random.Random(f"{seed}:query:{i}")
    family = FAMILIES[i % len(FAMILIES)]
    params: dict = {"release": release}
    if family in ("latest_metrics", "latest_n_dates"):
        params["metrics"] = sorted(rng.sample(LATEST_METRICS, 2))
        params["n"] = 3
    elif family == "area_percentiles":
        params["metric"] = rng.choice(RATE_METRICS)
    elif family == "landing_cache_rows":
        params["metrics"] = sorted(rng.sample(LATEST_METRICS, 2))
        params["days"] = 14
    elif family == "release_over_release_delta":
        params["metric"] = rng.choice(DELTA_METRICS)
    return family, params


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()

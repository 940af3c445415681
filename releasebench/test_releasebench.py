"""The benchmark's own tests: a deterministic generator, metric names that
match BENCHMARK.json, and a smoke run of every workload.

    python3 -m pytest releasebench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

import gen
import run

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _inputs(seed: int) -> list[str]:
    truth = gen.Truth(seed)
    r2 = truth.release(2)
    codes, revised = truth.revision(r2, 2, 0)
    return [
        gen.release_json(truth, truth.release(1)),
        gen.release_json(truth, r2),
        gen.release_json(truth, revised, codes),
        gen.population_json(truth),
    ]


def test_generator_is_deterministic():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_generator_covers_the_edge_cases():
    truth = gen.Truth(7)
    obs = truth.release(1)
    values = [v for pts in obs.values() for v in pts.values()]
    assert any(v < 0 for v in values), "negative corrections"
    lengths = [len(pts) for pts in obs.values() if pts]
    assert min(lengths) < 7, "a series shorter than the rolling window"
    gaps = [
        pts for pts in obs.values()
        if pts and max(pts) - min(pts) + 1 > len(pts)
    ]
    assert gaps, "date gaps inside a series"
    starts = {}
    for (code, _), pts in obs.items():
        if pts:
            starts.setdefault(code, []).append(min(pts))
    assert any(len(set(s)) > 1 for s in starts.values()), "leading null runs"
    types = {a.area_type for a in truth.areas}
    assert types == {"overview", "nation", "region", "nhsRegion", "nhsTrust", "utla", "ltla"}
    metrics = {m for (_, m) in obs}
    assert metrics == set(gen.INPUT_METRICS)


def test_side_trim_model_matches_the_reference_example():
    # uploader.py trim_sides: [0,1,2,3,4,5,null,null] keeps only the 3
    assert gen.stored_rows([0, 1, 2, 3, 4, 5, None, None]) == [3]
    # no value at all: the series passes untouched
    assert gen.stored_rows([None, None, None]) == [0, 1, 2]
    # nothing left after the leading strip: untouched
    assert gen.stored_rows([0, 5]) == [0, 1]


def test_rolling_sum_model():
    col = [1, 1, 1, 1, 1, 1, 1, 2, None, 3]
    assert gen._rolling_sum(col) == [None] * 6 + [7, 8, None, None]
    assert gen._rolling_sum([0] * 9) == [None] * 9


def test_release_check_counts_duplicated_rows(tmp_path):
    import types

    import duckdb
    from oracle import Oracle

    truth = gen.Truth(7)
    obs = truth.release(1)
    rows = [
        (code, metric, date, json.dumps({"value": value}), 1)
        for (code, metric, date), value in gen.expected_cells(truth, obs).items()
    ]
    store = types.SimpleNamespace(
        path=str(tmp_path),
        truth=truth,
        observations={1: obs},
        area_ids={a.code: i for i, a in enumerate(truth.areas, start=1)},
        metric_names=[],
    )
    part = tmp_path / "partition_id=r1|other"
    part.mkdir()

    def commit(rows):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t (area_code VARCHAR, metric VARCHAR, date VARCHAR,"
            " payload VARCHAR, release_id INTEGER)"
        )
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
        con.execute(f"COPY t TO '{part / 'part-0.parquet'}' (FORMAT parquet)")
        con.close()

    oracle = Oracle(store)
    commit(rows)
    assert oracle.release_ok(1, 7) == (True, "")
    commit(rows + rows[:1])
    assert not oracle.release_ok(1, 7)[0]
    oracle.close()


def test_metric_names_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def _run(workload: str, trace: int, work: Path) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "releasebench/run.py",
            "--workload", workload, "--seed", "5", "--seconds", "1",
            "--trace", str(trace), "--work-dir", str(work),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not work.exists(), "the run must remove its work directory"
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("daily-release", 0), ("serve-read", 0), ("daily-release", 1)],
)
def test_smoke(workload, trace, tmp_path):
    result = _run(workload, trace, tmp_path / "work")
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    section = "per_layer" if trace else "end_to_end"
    assert list(result["metrics"]) == [m["name"] for m in SPEC[section]]
    for m in SPEC[section]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())

"""Output checks. DuckDB reads the committed store files directly and
answers every serving query a second way; the generator's Python
arithmetic (``gen.expected_cells``) gives the stored values and row
counts of the modelled release cells."""

from __future__ import annotations

import json
import math
import random

import duckdb

import gen
from ops import DOSE_METRICS

# release cells compared value by value with the generator's arithmetic
CELL_SAMPLE = 300


class Oracle:
    def __init__(self, store):
        self.store = store
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            "CREATE TABLE areas (area_id INTEGER, area_type VARCHAR, area_code VARCHAR, area_name VARCHAR)"
        )
        self.con.executemany(
            "INSERT INTO areas VALUES (?, ?, ?, ?)",
            [(store.area_ids[a.code], a.area_type, a.code, a.name) for a in store.truth.areas],
        )

    def close(self) -> None:
        self.con.close()

    def _refresh(self) -> None:
        """Re-point the views at the files committed right now."""
        glob = f"{self.store.path}/*/*.parquet"
        self.con.execute(
            f"CREATE OR REPLACE VIEW store AS SELECT * FROM read_parquet('{glob}', hive_partitioning = false)"
        )
        if self.store.metric_names:
            self.con.execute("CREATE OR REPLACE TABLE metrics (metric_id INTEGER, metric VARCHAR)")
            self.con.executemany(
                "INSERT INTO metrics VALUES (?, ?)",
                list(enumerate(self.store.metric_names, start=1)),
            )
            self.con.execute(
                """CREATE OR REPLACE VIEW ts AS
                SELECT a.area_id, m.metric_id, s.release_id, s.date, s.payload,
                       a.area_type, a.area_code, a.area_name, m.metric
                FROM store s JOIN areas a USING (area_type, area_code)
                JOIN metrics m USING (metric)"""
            )

    def metric_names(self) -> list[str]:
        self._refresh()
        return [r[0] for r in self.con.execute("SELECT DISTINCT metric FROM store ORDER BY 1").fetchall()]

    def row_count(self) -> int:
        self._refresh()
        return self.con.execute("SELECT count(*) FROM store").fetchone()[0]

    def release_rows(self) -> dict[int, int]:
        """{release_id: stored rows} over the whole store."""
        self._refresh()
        return dict(
            self.con.execute("SELECT release_id, count(*) FROM store GROUP BY 1").fetchall()
        )

    def area_rows(self, release: int, codes) -> int:
        self._refresh()
        marks = ",".join("?" for _ in codes)
        return self.con.execute(
            f"SELECT count(*) FROM store WHERE release_id = ? AND area_code IN ({marks})",
            [release, *codes],
        ).fetchone()[0]

    # --- release cells ---------------------------------------------------------

    def release_ok(self, release: int, seed: int) -> tuple[bool, str]:
        """Stored rows of the modelled metrics: the stored row count and
        every (area, metric, date) key equal the generator's prediction
        (so a duplicated row fails), and a seeded sample of cells
        (zero-fill, negative clip, bounded ffill, rolling sum, tail trim)
        equals the generator's arithmetic."""
        self._refresh()
        expected = gen.expected_cells(self.store.truth, self.store.observations[release])
        marks = ",".join("?" for _ in gen.MODELLED_METRICS)
        rows = self.con.execute(
            f"""SELECT area_code, metric, date, payload FROM store
            WHERE release_id = ? AND metric IN ({marks})""",
            [release, *gen.MODELLED_METRICS],
        ).fetchall()
        got = {(a, m, d): p for a, m, d, p in rows}
        if len(rows) != len(expected) or got.keys() != expected.keys():
            missing = sorted(expected.keys() - got.keys())[:3]
            extra = sorted(got.keys() - expected.keys())[:3]
            return False, (
                f"release {release}: {len(rows)} modelled rows stored, "
                f"{len(expected)} predicted; missing {missing} extra {extra}"
            )
        keys = sorted(expected)
        rng = random.Random(f"{seed}:cells:{release}")
        for key in rng.sample(keys, min(CELL_SAMPLE, len(keys))):
            value = json.loads(got[key])["value"]
            if not gen.close(value, expected[key]):
                return False, f"cell {key}: stored {value}, expected {expected[key]}"
        return True, ""

    # --- serving ---------------------------------------------------------------

    def serving_ok(self, family: str, params: dict, rows: list) -> tuple[bool, str]:
        self._refresh()
        sql, args, shape = _sql(family, params)
        want = [shape(r) for r in self.con.execute(sql, args).fetchall()]
        got = [shape(tuple(r)) for r in rows]
        if family == "landing_cache_rows":
            got = [(a, b, c, _cache(v)) for a, b, c, v in got]
        if _same(got, want):
            return True, ""
        return False, f"{family} {params}: {len(got)} rows from Spark, {len(want)} from DuckDB"


VALUE = "TRY_CAST(json_extract_string(payload, '$.value') AS DOUBLE)"


def _ident(r):
    return tuple(r)


def _sql(family: str, p: dict):
    rel = p["release"]
    if family == "latest_metrics":
        metrics = p["metrics"]
        area_filter = ""
        args = [rel, *metrics]
        if p.get("area_ids"):
            area_filter = f"AND area_id IN ({','.join('?' for _ in p['area_ids'])})"
            args += list(p["area_ids"])
        sql = f"""
            SELECT area_type, area_code, area_name, metric, date, {VALUE}
            FROM (SELECT *, row_number() OVER (PARTITION BY area_id, metric_id ORDER BY date DESC) AS rn
                  FROM ts WHERE release_id = ? AND metric IN ({','.join('?' for _ in metrics)}) {area_filter})
            WHERE rn = 1"""
        return sql, args, _ident
    if family == "latest_n_dates":
        metrics = p["metrics"]
        marks = ",".join("?" for _ in metrics)
        sql = f"""
            WITH f AS (SELECT * FROM ts WHERE release_id = ? AND metric IN ({marks})),
            d AS (SELECT area_id, date FROM (
                    SELECT area_id, date, row_number() OVER (PARTITION BY area_id ORDER BY date DESC) AS rn
                    FROM (SELECT DISTINCT area_id, date FROM f)) WHERE rn <= ?)
            SELECT area_type, area_code, metric, date, payload
            FROM f SEMI JOIN d USING (area_id, date)"""
        return sql, [rel, *metrics, p["n"]], _ident
    if family == "area_percentiles":
        sql = f"""
            WITH f AS (SELECT * FROM ts WHERE release_id = ? AND metric = ?),
            l AS (SELECT area_type, max(date) AS date FROM f GROUP BY area_type)
            SELECT area_type, date,
                   quantile_cont({VALUE}, 0.25), quantile_cont({VALUE}, 0.5),
                   quantile_cont({VALUE}, 0.75), min({VALUE}), max({VALUE})
            FROM f SEMI JOIN l USING (area_type, date)
            GROUP BY area_type, date"""
        return sql, [rel, p["metric"]], _ident
    if family == "landing_cache_rows":
        metrics = p["metrics"]
        marks = ",".join("?" for _ in metrics)
        sql = f"""
            WITH f AS (
                SELECT * FROM (SELECT *, row_number() OVER (
                    PARTITION BY area_id, metric_id, date ORDER BY release_id DESC) AS rrn
                    FROM ts WHERE metric IN ({marks})) WHERE rrn = 1),
            w AS (SELECT *, max(date) OVER (PARTITION BY area_id, metric_id) AS mx FROM f)
            SELECT area_type, area_code, metric,
                   list({{'date': date, 'value': {VALUE}}} ORDER BY date DESC)
            FROM w WHERE datediff('day', CAST(date AS DATE), CAST(mx AS DATE)) < ?
            GROUP BY area_type, area_code, metric"""

        def shape(r):
            a, b, c, v = r[:4]
            if isinstance(v, list):
                v = [(e["date"], e["value"]) for e in v]
            return (a, b, c, v)

        return sql, [*metrics, p["days"]], shape
    if family == "release_over_release_delta":
        sql = f"""
            WITH f AS (SELECT area_id, date, release_id, {VALUE} AS v FROM ts WHERE metric = ?),
            d AS (SELECT area_id, date, release_id, v - lag(v) OVER (
                      PARTITION BY area_id, date ORDER BY release_id) AS raw,
                  row_number() OVER (PARTITION BY area_id, date ORDER BY release_id DESC) AS rn
                  FROM f)
            SELECT area_id, date, greatest(raw, 0.0) FROM d WHERE rn = 1 AND raw IS NOT NULL"""
        return sql, [p["metric"]], _ident
    if family == "dose_alignment":
        sql = f"""
            SELECT date, area_code,
                   max({VALUE}) FILTER (WHERE metric = ?),
                   max({VALUE}) FILTER (WHERE metric = ?),
                   max({VALUE}) FILTER (WHERE metric = ?)
            FROM ts WHERE release_id = ? AND metric IN (?, ?, ?)
            GROUP BY date, area_code"""
        return sql, [*DOSE_METRICS, rel, *DOSE_METRICS], _ident
    raise ValueError(family)


def _cache(value: str):
    return [(e["date"], e.get("value")) for e in json.loads(value)]


def _key(row) -> str:
    def norm(x):
        if isinstance(x, float):
            return f"{x:.6g}"
        if isinstance(x, (list, tuple)):
            return "[" + ",".join(norm(y) for y in x) + "]"
        return repr(x)

    return norm(row)


def _same(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    return all(_eq(a, b) for a, b in zip(sorted(got, key=_key), sorted(want, key=_key)))


def _eq(a, b) -> bool:
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b

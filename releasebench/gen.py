"""Seeded inputs for the release benchmark, and the Python arithmetic the
output checks compare against.

Everything here is plain Python (no Spark): the same seed gives
byte-identical files on any machine, because values come from
``random.Random`` seeded with strings and the JSON is written with sorted
keys and fixed separators.

A release is an F1-shaped nested JSON document (FIXTURES.md)
``{areaTypePlural: {areaCode: {"name": {"value": ...}, metric: [{date,
value}, ...]}}}`` covering every input metric of ``DEFAULT_METRICS``. The
area-type mix is the non-MSOA one of SURVEY.md section 6 (overview, 4
nations, 9 regions, 7 NHS regions, ~219 trusts, ~150 UTLAs, ~310 LTLAs),
with the three large types scaled by ``AREA_FRACTION``. Series carry
the edge cases the pipeline has to get right: date gaps, negative counts,
series shorter than the 7-day window, leading zero runs, leading and
trailing null runs, and areas that stop reporting early.

Release ``k`` (1-based) is the same truth seen one day later than release
``k - 1``, with a small upward revision of its last fortnight, so the
release-over-release delta has work to do. A revision batch rewrites the
last fortnight of a seeded subset of areas without moving any date, so
the rows it replaces keep their store identity.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import random
from dataclasses import dataclass

BASE_DATE = dt.date(2021, 1, 1)
# size of one generated release: the share of trusts, UTLAs and LTLAs
# kept, the days release 1 covers, the releases a run holds, and the
# areas one revision batch rewrites
AREA_FRACTION = 0.01
DAYS = 40
RELEASES = 2
REVISION_AREAS = 4

# (areaType, plural JSON key, code prefix, SURVEY count)
AREA_TYPES = (
    ("overview", "overview", "K02", 1),
    ("nation", "nations", "E92", 4),
    ("region", "regions", "E12", 9),
    ("nhsRegion", "nhsRegions", "E40", 7),
    ("nhsTrust", "nhsTrusts", "R", 219),
    ("utla", "utlas", "E10", 150),
    ("ltla", "ltlas", "E07", 310),
)
SCALED_TYPES = ("nhsTrust", "utla", "ltla")

ADMISSIONS = ("newAdmissions", "cumAdmissions", "cumAdmissionsByAge")
COUNTS = (
    "newCasesBySpecimenDate",
    "newCasesByPublishDate",
    "newDeaths28DaysByDeathDate",
    "newDeaths28DaysByPublishDate",
    "newVirusTestsByPublishDate",
    "newPCRTestsByPublishDate",
    "newPillarOneTestsByPublishDate",
    "newPillarTwoTestsByPublishDate",
)
CUMULATIVE = ("cumCasesBySpecimenDate", "cumDeaths28DaysByDeathDate")
RATIOS = ("uniqueCasePositivityBySpecimenDateRollingSum",)
# every input metric of config.DEFAULT_METRICS
INPUT_METRICS = COUNTS + CUMULATIVE + RATIOS + ADMISSIONS

# release cells the checks recompute in Python; each needs only the
# operators modelled below (zero-fill, negative clip, bounded ffill,
# 7-row rolling sum, tail trim, and the upload-side side trims)
ZERO_FILLED = frozenset(
    {"newCasesBySpecimenDate", "newCasesByPublishDate", "newDeaths28DaysByDeathDate"}
)
NEGATIVE_TO_ZERO = frozenset({"newCasesBySpecimenDate", "newCasesByPublishDate"})
FFILLED = frozenset({"cumCasesBySpecimenDate"})
TAIL_TRIMMED = frozenset({"newCasesBySpecimenDate"})
TAIL_TRIM_DAYS = 5
MODELLED_METRICS = (
    "newCasesBySpecimenDate",
    "newCasesByPublishDate",
    "newPCRTestsByPublishDate",
    "newPCRTestsByPublishDateRollingSum",
    "newDeaths28DaysByPublishDate",
    "newDeaths28DaysByPublishDateRollingSum",
    "cumCasesBySpecimenDate",
)
REVISED_DAYS = 14


@dataclass(frozen=True)
class Area:
    area_type: str
    plural: str
    code: str
    name: str


def _day(i: int) -> str:
    return (BASE_DATE + dt.timedelta(days=i)).isoformat()


def areas() -> list[Area]:
    out = []
    for area_type, plural, prefix, count in AREA_TYPES:
        n = count
        if area_type in SCALED_TYPES:
            n = max(2, round(count * AREA_FRACTION))
        for i in range(n):
            if prefix == "R":
                code = f"R{i:03d}"
            else:
                code = f"{prefix}{i + 1:06d}"
            out.append(Area(area_type, plural, code, f"{area_type} {i + 1}"))
    return out


def metrics_for(area: Area) -> tuple[str, ...]:
    if area.area_type in ("nhsRegion", "nhsTrust"):
        return ADMISSIONS
    if area.area_type in ("overview", "nation"):
        return INPUT_METRICS
    return COUNTS + CUMULATIVE + RATIOS


class Truth:
    """The seeded ground truth: one full-length series per (area, metric),
    of which each release sees a prefix. Values are ``None`` where the
    series has no observation (gaps and null runs)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.areas = areas()
        self.horizon = DAYS + RELEASES
        # series[(code, metric)] = (first_day, values over days first..)
        self.series: dict[tuple[str, str], tuple[int, list]] = {}
        for area in self.areas:
            rng = random.Random(f"{seed}:area:{area.code}")
            start = rng.randrange(0, 8)
            # areas that stop reporting early
            stop = self.horizon - (rng.randrange(3, 12) if rng.random() < 0.1 else 0)
            level = rng.choice((5, 20, 80, 300, 1500))
            for metric in metrics_for(area):
                self.series[(area.code, metric)] = _series(
                    random.Random(f"{seed}:series:{area.code}:{metric}"),
                    metric,
                    start,
                    stop,
                    level,
                )

    def release(self, k: int) -> dict[tuple[str, str], dict[int, float]]:
        """Observations of release ``k``: {(code, metric): {day: value}}.

        Release k sees days < days + k - 1 and revises its last
        fortnight upward by k - 1 percent."""
        end = DAYS + k - 1
        out = {}
        for key, (first, values) in self.series.items():
            obs = {}
            for i, v in enumerate(values):
                day = first + i
                if day >= end:
                    break
                if v is not None:
                    if k > 1 and day >= end - REVISED_DAYS:
                        v = _revise(v, k - 1)
                    obs[day] = v
            out[key] = obs
        return out

    def population(self) -> dict[str, float]:
        rng = random.Random(f"{self.seed}:population")
        return {a.code: float(rng.randrange(50_000, 9_000_000)) for a in self.areas}

    def revision(self, release: dict, k: int, op: int) -> tuple[list[str], dict]:
        """Revision batch ``op`` of a store that holds release ``k``: a
        seeded subset of areas whose last fortnight is revised upward.
        Dates and null/zero/sign patterns are kept, so every revised row
        replaces a stored row of the same identity. Returns the revised
        area codes and the updated observations of the whole release."""
        rng = random.Random(f"{self.seed}:revision:{op}")
        n = min(REVISION_AREAS, len(self.areas))
        codes = sorted(a.code for a in rng.sample(self.areas, n))
        chosen = set(codes)
        end = DAYS + k - 1
        out = dict(release)
        for (code, metric), obs in release.items():
            if code in chosen:
                out[(code, metric)] = {
                    d: (_revise(v, op % 7 + 1) if d >= end - REVISED_DAYS else v)
                    for d, v in obs.items()
                }
        return codes, out


def _revise(v: float, pct: int) -> float:
    if isinstance(v, int):
        return v + (v * pct) // 100 if v > 0 else v
    return round(v * (1 + pct / 100), 4)


def _series(rng: random.Random, metric: str, start: int, stop: int, level: int):
    """One full-length series with the pipeline's edge cases."""
    first = start
    last = stop - 1
    if rng.random() < 0.15:  # leading null run
        first += rng.randrange(3, 25)
    if rng.random() < 0.1:  # trailing null run
        last -= rng.randrange(2, 12)
    if rng.random() < 0.05:  # shorter than the 7-day window
        last = first + rng.randrange(1, 6)
    last = max(first, last)
    n = last - first + 1
    values: list = []
    total = 0
    lead_zeros = rng.randrange(1, 8) if rng.random() < 0.25 else 0
    for i in range(n):
        if i > 0 and i < n - 1 and rng.random() < 0.04:  # date gap
            values.append(None)
            continue
        if metric in RATIOS:
            values.append(round(rng.random() * 0.3, 4))
            continue
        x = 0 if i < lead_zeros else max(0, int(rng.gauss(level, level / 3)))
        if metric.startswith("new") and rng.random() < 0.03:
            x = -rng.randrange(1, level + 2)  # negative correction
        if metric.startswith("cum"):
            total += abs(x)
            x = total
        values.append(x)
    return first, values


def release_json(truth: Truth, obs: dict, codes: list[str] | None = None) -> str:
    """Serialise observations as the nested release JSON. ``codes``
    restricts the document to those areas (a revision batch)."""
    doc: dict = {}
    keep = set(codes) if codes is not None else None
    for area in truth.areas:
        if keep is not None and area.code not in keep:
            continue
        node = {"name": {"value": area.name}}
        for metric in metrics_for(area):
            points = obs[(area.code, metric)]
            if points:
                node[metric] = [
                    {"date": _day(d), "value": v} for d, v in sorted(points.items())
                ]
        doc.setdefault(area.plural, {})[area.code] = node
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


def population_json(truth: Truth) -> str:
    doc = {"general": truth.population(), "ageSex5YearBreakdown": {}}
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


# --- the Python arithmetic the checks compare with ------------------------


def model_area(truth: Truth, obs: dict, area: Area) -> dict[str, list]:
    """Processed panel columns of one area for the modelled metrics,
    over the area's dense date range: {"days": [...], metric: [...]}.

    Mirrors the reference semantics the pipeline reproduces: the dense
    scaffold spans the area's own first..last observed date; zero-fill
    and ffill apply strictly inside [first valid, last valid); negatives
    clip to 0; a rolling sum needs 7 non-null rows, is nulled for the
    whole area when it sums to 0, and is nulled where its source is
    null; the tail trim masks each area's last 5 days."""
    mine = {m: obs[(area.code, m)] for m in metrics_for(area)}
    days = [d for pts in mine.values() for d in pts]
    if not days:
        return {"days": []}
    lo, hi = min(days), max(days)
    grid = list(range(lo, hi + 1))
    out: dict[str, list] = {"days": grid}
    for m in MODELLED_METRICS:
        src = m.removesuffix("RollingSum")
        # the wide panel has a column for every metric of the release, so
        # an area without the metric stores an all-null series
        col = [mine.get(src, {}).get(d) for d in grid]
        valid = [i for i, v in enumerate(col) if v is not None]
        if src in ZERO_FILLED | FFILLED and valid:
            a, b = valid[0], valid[-1]
            prev = None
            for i in range(len(col)):
                if col[i] is not None:
                    prev = col[i]
                elif a <= i < b:
                    col[i] = 0 if src in ZERO_FILLED else prev
        if src in NEGATIVE_TO_ZERO:
            col = [None if v is None else max(v, 0) for v in col]
        if m.endswith("RollingSum"):
            col = _rolling_sum(col)
        elif m in TAIL_TRIMMED:
            col = [None if grid[i] > hi - TAIL_TRIM_DAYS else v for i, v in enumerate(col)]
        out[m] = col
    return out


def _rolling_sum(col: list) -> list:
    rs = []
    for i in range(len(col)):
        win = col[max(0, i - 6) : i + 1]
        ok = len(win) == 7 and all(v is not None for v in win)
        rs.append(sum(win) if ok else None)
    present = [v for v in rs if v is not None]
    if present and sum(present) == 0:
        rs = [None] * len(rs)
    return [None if col[i] is None else v for i, v in enumerate(rs)]


def stored_rows(col: list) -> list[int]:
    """Indices of a processed column that survive the upload-side side
    trims: through one row past the first non-zero, and from one row
    before the last valid row to the end, are dropped; a series with no
    value, or none left after the leading strip, passes untouched."""
    n = len(col)
    first_valid = next((i for i, v in enumerate(col) if v is not None), None)
    if first_valid is None:
        return list(range(n))
    run = 0.0
    first_nonzero = None
    for i, v in enumerate(col):
        if v is not None:
            run += abs(v)
            if run > 0:
                first_nonzero = i
                break
    lead_cut = (first_nonzero if first_nonzero is not None else first_valid) + 1
    after = [i for i in range(lead_cut + 1, n) if col[i] is not None]
    if not after:
        return list(range(n))
    last_valid = after[-1]
    return list(range(lead_cut + 1, last_valid - 1))


def expected_cells(truth: Truth, obs: dict) -> dict:
    """{(area_code, metric, date): value} for every stored row of the
    modelled metrics (values ``None`` where the store holds a null)."""
    out = {}
    for area in truth.areas:
        cols = model_area(truth, obs, area)
        grid = cols.pop("days")
        for m, col in cols.items():
            for i in stored_rows(col):
                out[(area.code, m, _day(grid[i]))] = col[i]
    return out


def close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)

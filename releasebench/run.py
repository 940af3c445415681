"""Release / serve / revise benchmark for the EP1 pipeline and its
serving layer.

Run from the repository root:

    python3 releasebench/run.py --workload daily-release --seed 1 --seconds 1 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` they
are the per-layer ones, from a separate traced run. NOTES.md describes
the workloads, the metrics and what each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(1, str(HERE.parent))

# the benchmark's modules, then the library (found through the path above)
import gen  # noqa: E402
from ops import FAMILIES, Store, files_under, group_label, query_params  # noqa: E402
from oracle import Oracle  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from spans import Tracer  # noqa: E402

from coronavirus_dashboard_pipeline_etl_spark.session import get_spark  # noqa: E402

WORKLOADS = ("daily-release", "serve-read")
CLK_TCK = os.sysconf("SC_CLK_TCK")
# end-to-end metrics (untraced run): name -> unit
END_TO_END = {
    "setup_s": "s",
    "release_jobs": "count",
    "serve_jobs": "count",
    "store_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}
# per-layer metrics (traced run): name -> unit
PER_LAYER = {
    "release_s": "s",
    "release_cpu_s": "s",
    "serve_p50_ms": "ms",
    "serve_cpu_ms": "ms",
    "build_panel.call_s": "s",
    "build_panel.s": "s",
    "build_panel.parse_tasks": "count",
    "process_panel.call_s": "s",
    "process_panel.s": "s",
    "process_panel.exchanges": "count",
    "to_long_store.s": "s",
    "hashing.python_rows": "count",
    "write_store.s": "s",
    "write_store.files": "count",
    "write_store.bytes": "B",
    "upsert_s": "s",
    "read_after_write_ms": "ms",
    "upsert_bytes_per_row": "B/row",
    "merge_upsert_store.s": "s",
    "merge_upsert_store.rows_rewritten_per_batch_row": "ratio",
    "compact_store.s": "s",
    "compact_store.bytes_rewritten": "B",
    "store.files_per_partition": "count",
    **{f"serving.{f}.ms": "ms" for f in FAMILIES},
    "serving.plan_ms": "ms",
    "serving.files_read": "count",
    "serving.rows_scanned_per_row_returned": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.failed_tasks": "count",
    "spark.utilisation": "ratio",
    "spark.driver_gap_s": "s",
    "trace.overhead_ms": "ms",
}


# window units per (workload, trace): releases, each followed by its
# landing read, on daily-release; whole query cycles on serve-read. The
# count is fixed, so every run samples the same operations at the same
# JVM age; the CPU cost of an operation falls as the JIT warms up. The
# traced daily-release run makes two release pairs so the alternating
# order cancels that trend in trace.overhead_ms.
UNITS = {
    ("daily-release", 0): 1,
    ("daily-release", 1): 2,
    ("serve-read", 0): 1,
    ("serve-read", 1): 1,
}
# the landing-page read that follows each daily release
LANDING_READ = (
    "latest_metrics",
    {
        "release": 2,
        "metrics": [
            "newCasesBySpecimenDate",
            "newCasesBySpecimenDateRollingSum",
            "newCasesBySpecimenDateRollingRate",
            "cumCasesBySpecimenDate",
            "newAdmissions",
        ],
    },
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--work-dir",
        default=".releasebench",
        help="scratch directory for inputs, the store and Spark's local files",
    )
    return p.parse_args(argv)


def start_session(work: Path, cores: int):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        app_name="releasebench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and every Python worker, and wait for each."""
    pids = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _descendants(root: int) -> set[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out: set[int] = set()
    frontier = {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier and p not in out}
        out |= frontier
    return out


def tree_peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of this process and its descendants: the
    Python driver, the JVM and any live Python workers."""
    total_kb = 0
    for pid in {os.getpid(), *_descendants(os.getpid())}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and its live
    descendants, with the children each has reaped: the Python driver,
    the JVM and the Python workers."""
    ticks = 0
    for pid in {os.getpid(), *_descendants(os.getpid())}:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


class Run:
    """One benchmark run: set-up, the measured window, the traced run's
    extra operations, and the checks on every operation."""

    def __init__(self, args, work: Path):
        self.args = args
        self.seed = args.seed
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.committed: dict[int, int] = {}
        self.n_ops = 0
        t0 = time.perf_counter()
        self.spark = start_session(work, self.cores)
        try:
            self.tracer = Tracer(self.spark, enabled=bool(args.trace))
            self.store = Store(self.spark, self.tracer, work / "data", gen.Truth(args.seed))
            self.oracle = Oracle(self.store)
            self.json = {k: self.store.write_release_json(k) for k in (1, 2)}
            # the first release in a fresh JVM is the cold one; it seeds the
            # store and is not a release sample
            self._release(1, sample=False)
            # release 2 is seeded on both workloads, so every release in
            # the daily-release window overwrites committed partitions
            self._release(2, sample=args.workload == "serve-read")
            self.store.load_dimensions(self.oracle.metric_names())
            # one unsampled, untraced read, so no measured query is the
            # JVM's first
            self.tracer.enabled = False
            self._serve(0, LANDING_READ, sample=False)
            self.tracer.enabled = bool(args.trace)
            self.setup_s = time.perf_counter() - t0
        except BaseException:
            stop_session(self.spark)
            raise

    # --- operations, each checked ------------------------------------------------

    def _check(self, ok: bool, why: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {why}", file=sys.stderr)

    def _guard(self, fn, *a, **kw):
        try:
            return fn(*a, **kw)
        except Exception:  # an operation that raises is a failed operation
            self.attempted += 1
            self.failed += 1
            traceback.print_exc()
            return None

    def _op_id(self, kind: str) -> str:
        self.n_ops += 1
        return f"{kind}-{self.n_ops}"

    def _release(self, k: int, sample: bool = True, split: bool = False):
        op = self._op_id("release")
        cpu = tree_cpu_s()
        with self.tracer.op(op, "release"):
            wall = self.store.release(k, self.json[k], split=split)
        cpu = tree_cpu_s() - cpu
        if sample:
            self._sample("release", wall, cpu, op)
        self._check(*self.oracle.release_ok(k, self.seed))
        counts = self.oracle.release_rows()
        self.committed.setdefault(k, counts.get(k, 0))
        self._check_committed(counts, f"release {k}")
        return op, wall, cpu

    def _sample(self, kind: str, wall: float, cpu: float, op: str) -> None:
        for name, value in (("s", wall), ("cpu_s", cpu), ("jobs", self.tracer.jobs(op))):
            self.samples.setdefault(f"{kind}_{name}", []).append(value)

    def _check_committed(self, counts: dict[int, int], after: str) -> None:
        """Every release holds the rows it committed: a write that
        appends, or that wipes other releases' partitions, fails here."""
        self._check(
            counts == self.committed,
            f"after {after}: rows per release {counts}, committed {self.committed}",
        )

    def _serve(self, i: int, params=None, sample: bool = True):
        family, p = params or query_params(self.seed, i, 2)
        op = self._op_id("serve")
        cpu = tree_cpu_s()
        with self.tracer.op(op, "serve"):
            wall, rows = self.store.serve(family, p)
        cpu = tree_cpu_s() - cpu
        if sample:
            self._sample("serve", wall, cpu, op)
        self._check(*self.oracle.serving_ok(family, p, rows))
        return op, wall, cpu

    def _upsert(self, n: int, split: bool = False) -> None:
        path, codes = self.store.write_revision_json(2, n)
        op = self._op_id("upsert")
        with self.tracer.op(op, "upsert"):
            wall = self.store.upsert(2, path, split=split)
        self.tracer.record("upsert_s", wall)
        # the revision keeps every row's identity, so the batch's rows are
        # the stored rows of its areas
        batch_rows = max(1, self.oracle.area_rows(2, codes))
        records, written = self.tracer.written(f"{op}/merge_upsert_store")
        self.tracer.record("upsert_bytes_per_row", written / batch_rows)
        self.tracer.record("merge_upsert_store.rows_rewritten_per_batch_row", records / batch_rows)
        touched = sorted(
            {f"r2|{group_label(a.area_type)}" for a in self.store.truth.areas if a.code in codes}
        )
        files = files_under(self.store.path, set(touched))
        self.tracer.record("store.files_per_partition", len(files) / max(1, len(touched)))
        self._check_committed(self.oracle.release_rows(), "upsert")
        self._check(*self.oracle.release_ok(2, self.seed))
        # the serving read that follows the write, over the touched partitions
        params = (
            "latest_metrics",
            {
                "release": 2,
                "metrics": list(gen.MODELLED_METRICS),
                "area_ids": [self.store.area_ids[c] for c in codes],
            },
        )
        _, wall, _ = self._serve(0, params=params)
        self.tracer.record("read_after_write_ms", wall * 1000)
        # compaction of the partitions the merge rewrote
        op = self._op_id("compact")
        with self.tracer.op(op, "compact"):
            self.store.compact(touched)
        self.tracer.record("compact_store.bytes_rewritten", self.tracer.written(f"{op}/compact_store")[1])
        self._check_committed(self.oracle.release_rows(), "compaction")
        self._check(*self.oracle.release_ok(2, self.seed))

    # --- the run ---------------------------------------------------------------

    def window(self) -> None:
        """The measured window, closed loop, one client. daily-release:
        re-release release 2, then the landing read of what it committed.
        serve-read: whole cycles of the six serving families, so every run
        has the same query mix. The window runs ``UNITS`` of these units;
        ``--seconds`` is a floor that more units fill, which at these
        costs and ``run_seconds`` = 1 never happens. In the traced run every
        main operation runs twice, tracer off and on, in alternating
        order, to measure the tracer's overhead."""
        end = time.perf_counter() + self.args.seconds
        daily = self.args.workload == "daily-release"
        cycle = 1 if daily else len(FAMILIES)
        i = 0
        least = UNITS[self.args.workload, self.args.trace] * cycle
        while i < least or time.perf_counter() < end:
            for _ in range(cycle):
                if self.args.trace:
                    self._traced_pair(i)
                else:
                    self._guard(self._main, i)
                if daily:
                    self._guard(self._serve, i, LANDING_READ)
                i += 1

    def _main(self, i: int):
        if self.args.workload == "daily-release":
            return self._release(2)
        return self._serve(i)

    def _traced_pair(self, i: int) -> None:
        def one(traced: bool):
            self.tracer.enabled = traced
            try:
                return self._main(i)
            finally:
                self.tracer.enabled = True

        order = (False, True) if i % 2 == 0 else (True, False)
        walls = {}
        for traced in order:
            res = self._guard(one, traced)
            if res is not None:
                walls[traced] = res
        if len(walls) == 2:
            # the untraced half gives the operation's wall and CPU time
            _, plain, cpu = walls[False]
            if self.args.workload == "daily-release":
                self.tracer.record("release_s", plain)
                self.tracer.record("release_cpu_s", cpu)
            else:
                self.tracer.record("serve_p50_ms", plain * 1000)
                self.tracer.record("serve_cpu_ms", cpu * 1000)
            op, wall, _ = walls[True]
            self.tracer.record("trace.overhead_ms", (wall - plain) * 1000)
            for name, value in self.tracer.spark_counters(op, self.cores).items():
                self.tracer.record(name, value)

    def traced_extras(self) -> None:
        """Operations only the traced daily-release run makes, so that
        every layer the benchmark names is measured: one release with its
        layers split, then one revision batch (layers split) merged into
        release 2, the read that follows it and the compaction of the
        partitions it rewrote."""
        self._guard(self._release, 2, split=True)
        self._guard(self._upsert, 0, split=True)

    def metrics(self) -> dict:
        files = files_under(self.store.path)
        rows = self.oracle.row_count()
        values = {
            "setup_s": self.setup_s,
            "release_jobs": _median(self.samples.get("release_jobs")),
            "serve_jobs": _mean(self.samples.get("serve_jobs")),
            "store_bytes_per_row": sum(b for _, b in files) / max(1, rows),
            "peak_rss_mb": tree_peak_rss_mb(),
        }
        if not self.args.trace:
            return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        layer = {k: _median(v) for k, v in self.tracer.values.items()}
        return {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}

    def close(self) -> None:
        self.oracle.close()
        stop_session(self.spark)


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    base = Path(args.work_dir).resolve()
    work = base / f"run-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir(exist_ok=True)
    run = None
    try:
        run = Run(args, work)
        run.window()
        if args.trace and args.workload == "daily-release":
            run.traced_extras()
        metrics = run.metrics()
        attempted, failed = run.attempted, run.failed
        samples = {k: [round(x, 3) for x in v] for k, v in run.samples.items()}
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass
    print(
        f"# workload={args.workload} seed={args.seed} cores={run.cores} "
        f"samples={json.dumps(samples, sort_keys=True)} "
        f"failed_ratio={failed / max(1, attempted):.4f}"
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

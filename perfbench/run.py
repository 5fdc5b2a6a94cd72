"""kgflow benchmark: one workload, one Spark session at local[4].

    python3 perfbench/run.py --workload kg_update --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Prints each metric by name with its
unit, then, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
operations and reports the per-layer metrics: wall times of the
untraced operations, spans and counts of the traced ones (see README.md
in this directory).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "tasks_per_op": "count",
}
# Whole-operation figures reported with the per-layer metrics: wall
# times move with the host's CPU contention by more than any bound, and
# the bytes shuffled with the size of the 4 edited buckets, which the
# seed decides (see README.md).
OPERATION = {
    "op_s_p50": "s",
    "rows_in_per_s": "1/s",
    "shuffle_bytes_per_op": "bytes",
}
SPAN_NAMES = [
    "pipeline.prepare_lexicon",
    "canon.connected_components",
    "pipeline.build_triples",
    "pipeline.build_nodes",
    "write.nodes",
    "checkpoint.table_fingerprint",
    "checkpoint.bucket_fingerprints",
    "checkpoint.bucket_quality",
    "checkpoint.run_resumable",
    "pipeline.build_triples_prov",
    "materialize.write_snapshot",
    "incremental.incremental_extract_prov",
    "unattributed",
]
COUNTS = {
    "pipeline.lexicon_surfaces": "count",
    "extract.turns_in": "count",
    "extract.turns_with_mentions": "count",
    "extract.mentions": "count",
    "pipeline.pre_dedup_rows": "count",
    "pipeline.triples": "count",
    "pipeline.dedup_keep_ratio": "ratio",
    "pipeline.nodes": "count",
    "checkpoint.buckets_run": "count",
    "checkpoint.skip_ratio": "ratio",
    "checkpoint.ledger_rows": "count",
    "materialize.snapshot_rows": "count",
}


def per_layer_units(queries) -> dict[str, str]:
    units = dict(OPERATION)
    for span in SPAN_NAMES:
        units[f"{span}_s"] = "s"
        units[f"{span}.shuffle_write_bytes"] = "bytes"
        units[f"{span}.spill_bytes"] = "bytes"
        units[f"{span}.tasks"] = "count"
    for q in queries:
        units[f"query.{q}_s"] = "s"
        units[f"query.{q}.shuffle_write_bytes"] = "bytes"
        units[f"query.{q}.spill_bytes"] = "bytes"
    units.update(COUNTS)
    units["process.peak_rss_mb"] = "MB"
    units["scaling.kg_build_eff_1to4"] = "ratio"
    units["trace.overhead_s"] = "s"
    return units


def peak_rss_mb() -> float:
    """Sum of the RSS high-water marks (VmHWM) of every process below
    this one: the JVM, the Python worker daemon and its workers."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        tree |= frontier
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


ENGINE_COUNTS = ("jobs_per_op", "tasks_per_op", "shuffle_bytes_per_op")


def engine_counts(status) -> dict[str, int]:
    """Spark jobs, tasks and shuffle bytes written since the last read
    of ``status`` (a ``trace.StatusReader``), keyed as ENGINE_COUNTS."""
    jobs, stages = status.read()
    return dict(zip(ENGINE_COUNTS, (
        jobs,
        sum(s.numCompleteTasks() for s in stages),
        sum(s.shuffleWriteBytes() for s in stages),
    )))


def start_spark(work: str, cores: int):
    from kgflow.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when
    its standard input closes, and it stops the Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def percentile_line(times: list[float]) -> str:
    """Median, plus the highest percentile with at least ten samples
    beyond it when the run has that many."""
    n = len(times)
    line = f"op_s p50={statistics.median(times):.4f} s (n={n})"
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(times, n=100, method="inclusive")[p - 1]
            return line + f", p{p}={q:.4f} s"
    return line + ", no higher percentile has 10 samples beyond it"


class Runner:
    def __init__(self, args, work: str):
        from perfbench.trace import StatusReader
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.spark = start_spark(work, CORES)
        self.wl = WORKLOADS[args.workload](self.spark, work, args.seed, args.size)
        self.status = StatusReader(self.spark)
        self.tracer = None
        self.setup_checks_ok = True
        self.rss = 0.0

    def timed_op(self, traced: bool) -> tuple[float, int, dict, dict]:
        self.status.read()  # drop the work of the set-up and the checks
        tracer = self.tracer if traced else None
        self.wl.tracer = tracer
        t0 = time.perf_counter()
        try:
            with tracer.operation() if tracer else contextlib.nullcontext():
                rows = self.wl.op()
        finally:
            self.wl.tracer = None
        dt = time.perf_counter() - t0
        engine = engine_counts(self.status)
        self.rss = max(self.rss, peak_rss_mb())
        return dt, rows, engine, tracer.record() if tracer else {}

    def checked(self, i: int) -> bool:
        if self.args.corrupt and i % 2 == 0:
            self.wl.corrupt()
        return self.wl.check()

    def run(self) -> dict:
        args, wl = self.args, self.wl
        prepare = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prepare.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.op()  # warm-up operation, counted in set-up
        warm = time.perf_counter() - t0
        cold = engine_counts(self.status)
        print("warm-up operation engine counts: " + ", ".join(f"{k} {v}" for k, v in cold.items()))
        self.setup_checks_ok = wl.check()
        setup_s = statistics.median(prepare) + warm
        if args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.spark)

        times, traced_times, untraced_times, records, engine, oks = [], [], [], [], [], []
        rows_in = 0
        give_up = time.perf_counter() + 3 * args.seconds + 60  # if operations keep failing
        min_ops = 2 if args.trace else 1  # a traced run needs one op of each kind

        def more() -> bool:
            # stop before an operation of the median length would overrun
            planned = sum(times) + (statistics.median(times) if times else 0.0)
            return (planned <= args.seconds or len(oks) < min_ops) and time.perf_counter() < give_up

        while more():
            traced = bool(args.trace) and len(oks) % 2 == 1
            try:
                dt, n_in, counts, rec = self.timed_op(traced)
                oks.append(self.checked(len(oks)))
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                oks.append(False)
                continue
            times.append(dt)
            engine.append(counts)
            if traced:
                traced_times.append(dt)
                records.append(rec)
            else:
                untraced_times.append(dt)
                rows_in += n_in
        try:
            end_ok = wl.check_end()
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            end_ok = False
        if oks and not end_ok:
            oks[-1] = False

        attempted, failed = len(oks), oks.count(False)
        print(f"workload={args.workload} seed={args.seed} cores={CORES} closed loop, 1 client")
        print(
            f"setup: input preparation x{SETUP_REPS} (s) {', '.join(f'{p:.3f}' for p in prepare)}; "
            f"warm-up operation {warm:.3f} s"
        )
        if times:
            print(percentile_line(times))
            print(f"op_s each: {', '.join(f'{t:.3f}' for t in times)}")
        print(f"fail_ratio = {failed}/{attempted} (warm-up checks {'ok' if self.setup_checks_ok else 'FAILED'})")

        if not args.trace:
            units = END_TO_END
            values = {"setup_s": setup_s}
        else:
            from perfbench.trace import with_ratios
            from perfbench.workloads import QUERIES

            units = per_layer_units(QUERIES)
            records = [with_ratios(r) for r in records]
            values = {
                k: statistics.median([r.get(k, 0.0) for r in records]) if records else 0.0
                for k in units
            }
        for k in ENGINE_COUNTS:
            values[k] = statistics.median([e[k] for e in engine]) if engine else float("nan")
        if args.trace:
            values["op_s_p50"] = statistics.median(untraced_times) if untraced_times else float("nan")
            values["rows_in_per_s"] = rows_in / (sum(untraced_times) or float("nan"))
            values["process.peak_rss_mb"] = self.rss
            values["trace.overhead_s"] = (
                statistics.median(traced_times) - statistics.median(untraced_times)
                if traced_times and untraced_times
                else 0.0
            )
            if args.workload == "kg_update":
                values["scaling.kg_build_eff_1to4"] = self.scaling_efficiency()
        for k, u in units.items():
            print(f"{k} = {values[k]:.6g} {u}")
        return {
            "correct": failed == 0 and self.setup_checks_ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }

    def scaling_efficiency(self) -> float:
        """One-shot kg_build (``KgUpdate.oneshot``) on local[1] against
        local[4]: (T1 / T4) / 4. The local[1] session is new, so it gets
        a warm-up run first."""
        walls = []
        for cores in (CORES, 1):
            if cores != CORES:
                self.spark.stop()
                self.spark = self.wl.spark = start_spark(self.work, cores)
                self.wl.oneshot()
            t0 = time.perf_counter()
            self.wl.oneshot()
            walls.append(time.perf_counter() - t0)
        return walls[1] / walls[0] / CORES


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["kg_update", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="operation time to measure")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["bench", "tiny"], default="bench", help="input size (tiny: smoke test)")
    ap.add_argument("--corrupt", action="store_true", help="damage every second output, the first included, before its check")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgflow", "__init__.py")):
        print(f"kgflow not found under {ROOT}: run from a kgflow checkout", file=sys.stderr)
        return 2

    # Spark's Python workers import kgflow too: point them at this checkout
    # and at this interpreter, whatever the calling shell exported.
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    runner = None
    try:
        runner = Runner(args, work)
        result = runner.run()
    finally:
        if runner is not None:
            runner.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

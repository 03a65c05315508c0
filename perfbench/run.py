"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_tiles --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up starts a Spark session on
local[nproc], generates the workload's inputs from --seed and stores them,
and runs warm-up iterations; then iterations run back to back (one client,
closed loop) until --seconds of timed work have passed, each followed by
an untimed output check. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run
(see perfbench/README.md). Everything it writes lives under
.perfbench_work/ in the repository root and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "wall_s": "s", "rows_per_s": "1/s", "setup_s": "s", "success_frac": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "snapshot_table.read_call_s": "s", "snapshot_table.scan_bytes": "bytes",
    "snapshot_table.scan_rows": "count", "snapshot_table.delete_files": "count",
    "snapshot_table.rows_deleted": "count",
    "extract_meta.busy_s": "s", "extract_meta.rows_in": "count", "extract_meta.rows_valid": "count",
    "extract_meta.valid_ratio": "ratio", "extract_meta.error_rows.not_tiff": "count",
    "extract_meta.error_rows.unknown_projection": "count", "extract_meta.error_rows.other": "count",
    "extract_meta.python_bytes": "bytes",
    "pip_join.call_s": "s", "pip_join.probe_jobs": "count", "pip_join.busy_s": "s",
    "pip_join.candidate_pairs": "count", "pip_join.matches": "count", "pip_join.refine_ratio": "ratio",
    "pip_join.shuffle_bytes": "bytes", "pip_join.task_skew": "ratio",
    "knn.call_s": "s", "knn.busy_s": "s", "knn.candidate_rows": "count",
    "knn.candidates_per_query_max": "count", "knn.useful_ratio": "ratio", "knn.task_skew": "ratio",
    "tiles.busy_s": "s", "tiles.rows_out": "count",
    "lineage.write_stage_s": "s", "lineage.shuffle_bytes": "bytes", "lineage.files_written": "count",
    "lineage.buckets_run": "count", "lineage.buckets_skipped": "count", "lineage.commit_s": "s",
    "lineage.scan_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.spill_bytes": "bytes", "spark.idle_core_s": "s",
    "datagen.gen_s": "s", "jvm.heap_peak_mb": "MB", "jvm.old_gen_peak_mb": "MB",
    "trace_overhead_s": "s", "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
    "trace.busy_sum_s": "s", "trace.task_wall_ratio": "ratio",
}
MIN_ITERS = 3
# Sized for a 15 GB machine that the JVM, its Python workers and the page
# cache share. The heap is committed and touched up front so resident
# memory does not depend on when the collector happened to grow it.
DRIVER_HEAP = "2g"
# summed task time may exceed cores x wall only by clock granularity
RECONCILE_TOL = 0.05


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test sizes")
    return ap.parse_args(argv)


def sizes(workload: str, scale: str):
    from perfbench.workloads import Sizes

    full = {
        "ingest_tiles": Sizes(images=4000, px=16),
        "resume_mor": Sizes(images=3000, px=48),
        "spatial_skew": Sizes(points=50_000, fine=16, queries=100, query_hot_frac=0.2,
                              pip_sample=400, knn_sample=25),
    }
    tiny = {
        "ingest_tiles": Sizes(images=400, px=16),
        "resume_mor": Sizes(images=400, px=48),
        "spatial_skew": Sizes(points=4000, fine=6, queries=20, query_hot_frac=0.2,
                              pip_sample=100, knn_sample=5),
    }
    return (full if scale == "full" else tiny)[workload]


def start_session(work: str, cores: int, eventlog: bool):
    from extractors_geo_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        # quoted: the launcher splits these options on unquoted spaces
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
                                         f'"-Djava.io.tmpdir={work}/tmp" -XX:-UsePerfData',
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if eventlog:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": pathlib.Path(work, "eventlog").as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def shutdown() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(wl, spans, seconds: float, prefix: str) -> tuple[list[float], list[str], int]:
    """Iterate until `seconds` of timed work (at least MIN_ITERS runs),
    checking each output (or, for a workload with check_each False, the
    output of the last one, which every iteration's plan shares).
    Returns (walls, iteration span names, failed iterations)."""
    walls, names, bad = [], [], []
    while sum(walls) < seconds or len(walls) < MIN_ITERS:
        i, name = len(walls), f"{prefix}{len(walls)}"
        t0 = time.perf_counter()
        try:
            with spans.span(name):
                wall = wl.iterate(i)
            bad.append(bool(wl.check_each and _check(wl, name, i)))
        except Exception:  # a raising run counts as failed; keep measuring
            traceback.print_exc()
            wall = time.perf_counter() - t0
            bad.append(True)
        walls.append(wall)
        names.append(name)
    if not wl.check_each and _check(wl, names[-1], len(walls) - 1):
        bad = [True] * len(bad)
    return walls, names, sum(bad)


def _check(wl, name: str, i: int) -> bool:
    """Run the output check; True (and a report on stderr) on failure."""
    try:
        problems = wl.check(i)
    except Exception:
        traceback.print_exc()
        problems = ["check raised"]
    if problems:
        print(f"{name}: {problems}", file=sys.stderr)
    return bool(problems)


def set_up(W, spark, spans, seed, work, sz):
    """Generate and store the inputs, then run the workload's warm-up
    iterations. Returns (workload, generation seconds, warm-up seconds,
    failed warm-up iterations)."""
    t0 = time.perf_counter()
    wl = W(spark, spans, seed, f"{work}/in", sz)
    wl.generate()
    gen = time.perf_counter() - t0
    warm, failed = 0.0, 0
    for i in range(wl.warmup_iters):
        warm += wl.iterate(-1 - i)
        failed += wl.check_each and _check(wl, "warm-up", -1 - i)
    return wl, gen, warm, failed


def heap_pools(spark, reset: bool = False) -> dict[str, int]:
    """Peak used bytes of each JVM heap pool since its last reset."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    out = {}
    for p in pools:
        if str(p.getType()) == "Heap memory":
            if reset:
                p.resetPeakUsage()
            out[p.getName()] = p.getPeakUsage().getUsed()
    return out


def fresh_context(wl, work: str, cores: int, eventlog: bool, tag: int):
    """Stop the Spark context and start a new one in the same JVM, with or
    without the event log; rebind the workload's stored inputs to it and
    run one warm-up iteration (index `tag`). Returns (spark, spans,
    failed warm-up iterations)."""
    from pyspark.sql import SparkSession

    from perfbench.trace import Spans

    SparkSession.getActiveSession().stop()
    spark = start_session(work, cores, eventlog)
    spans = Spans(spark.sparkContext if eventlog else None)
    wl.rebind(spark, spans)
    wl.iterate(tag)
    return spark, spans, bool(wl.check_each and _check(wl, "context warm-up", tag))


def run(args, work: str) -> dict:
    from perfbench.trace import EventLog, RssSampler, Spans
    from perfbench.workloads import WORKLOADS

    W = WORKLOADS[args.workload]
    sz = sizes(args.workload, args.scale)
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(work, cores, eventlog=False)
    session_s = time.perf_counter() - t0
    wl, gen, warm, failed = set_up(W, spark, Spans(), args.seed, work, sz)
    attempted = wl.warmup_iters
    print(f"session {session_s:.2f} s, generation {gen:.2f} s, warm-up {warm:.2f} s",
          file=sys.stderr)

    if not args.trace:
        with RssSampler() as rss:
            walls, _, f = measure(wl, Spans(), args.seconds, "run")
        failed += f
        attempted += len(walls)
        wall = statistics.median(walls)
        print(f"iterations {_fmt(walls)}", file=sys.stderr)
        metrics = {
            "wall_s": wall,
            "rows_per_s": wl.input_rows / wall,
            "setup_s": session_s + gen + warm,
            "success_frac": 1.0 - failed / attempted,
            "peak_rss_mb": rss.peak / 2**20,
        }
        return result(metrics, END_TO_END, attempted, failed)

    # Traced run. The untraced reference and the traced iterations each run
    # in a fresh Spark context on the same JVM after one warm-up, in that
    # order, so trace_overhead_s compares iterations in the same position.
    tag = -1 - wl.warmup_iters  # warm-up indices after set-up's
    spark, _, f = fresh_context(wl, work, cores, False, tag)
    heap_pools(spark, reset=True)
    walls, _, f2 = measure(wl, Spans(), args.seconds, "run")
    heap = heap_pools(spark)
    failed += f + f2
    wall = statistics.median(walls)
    spark, spans, f = fresh_context(wl, work, cores, True, tag - 1)
    twalls, iters, f2 = measure(wl, spans, args.seconds, "it")
    failed += f + f2
    attempted += 2 + len(walls) + len(twalls)
    print(f"untraced {_fmt(walls)}, traced {_fmt(twalls)}", file=sys.stderr)
    facts = wl.busy_runs()
    spark.stop()
    ev = EventLog(f"{work}/eventlog")

    metrics = dict.fromkeys(PER_LAYER, 0.0)  # layers a workload never calls stay 0
    metrics.update(wl.layers(ev, iters, facts))
    last, traced = iters[-1], statistics.median(twalls)
    tot = ev.totals(last)
    ratio = tot["run_s"] / (cores * twalls[-1])
    if ratio > 1.0 + RECONCILE_TOL:
        print(f"trace: task time {tot['run_s']:.3f} s exceeds {cores} cores x wall "
              f"{twalls[-1]:.3f} s by more than {RECONCILE_TOL:.0%}", file=sys.stderr)
    metrics.update({
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
        "spark.task_s": tot["run_s"], "spark.task_cpu_s": tot["cpu_s"], "spark.gc_s": tot["gc_s"],
        "spark.spill_bytes": tot["spill"], "spark.idle_core_s": cores * twalls[-1] - tot["run_s"],
        "datagen.gen_s": gen,
        "jvm.heap_peak_mb": sum(heap.values()) / 2**20,
        "jvm.old_gen_peak_mb": sum(v for k, v in heap.items() if "Old" in k or "Tenured" in k) / 2**20,
        "trace_overhead_s": traced - wall,
        "trace.untraced_wall_s": wall,
        "trace.traced_wall_s": traced,
        "trace.busy_sum_s": metrics.pop("busy_sum_s"),
        "trace.task_wall_ratio": ratio,
    })
    return result(metrics, PER_LAYER, attempted, failed)


def _fmt(xs) -> str:
    return "[" + " ".join(f"{x:.2f}" for x in xs) + "]"


def result(values: dict, units: dict, attempted: int, failed: int) -> dict:
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import extractors_geo_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # SIGTERM (a timeout) unwinds like an exception, so the JVM is stopped
    # and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Python workers run this interpreter and import the engine from the
    # repository root; temp files and Spark scratch stay inside the work
    # directory
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    try:
        out = run(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

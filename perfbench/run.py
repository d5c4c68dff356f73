"""The repository's benchmark: oracle-checked workloads on local[nproc].

Usage, from the repository root:

    python3 perfbench/run.py --workload crawl-bulk --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload query-suite --seed 1 --seconds 60 --trace 0 \
        --sf-dir <tables> --sample-sf-dir <sample-scale tables>

``--trace 0`` times the workload with no instrumentation and reports the
end-to-end metrics.  ``--trace 1`` runs the same workload with spans around
the program's layer entry points and reports the per-layer metrics; it also
writes the spans and Spark stages to ``.bench_build/perfbench/traces/``.
Both print one line per metric, then one JSON object as the last line.

Every file the run writes lives under ``.bench_build/perfbench/`` in the
checkout; the run's own work directory is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import crawls  # noqa: E402
import spans  # noqa: E402

WORKLOADS = (*crawls.SHAPES, "query-suite")
OUT_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
UNITS = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "iter_p50_s": "s",
    "store_bytes_per_url": "B",
    "driver_rss_mb": "MB",
}


def start_spark(workdir: str, cores: int):
    """The repo's session factory on local[cores], with every scratch file
    Spark and its Python workers write kept inside ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    from feapder_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every stage of the run back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the JVM exits when
    its stdin, held by this process, closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def driver_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def crawl_trace_targets():
    from feapder_spark.crawl.engine import CrawlEngine
    from feapder_spark.store.snapshot import SnapshotStore, SnapshotTable

    return [
        ("crawl.engine", CrawlEngine, ("seed", "run")),
        ("store.snapshot", SnapshotTable,
         spans.STORE_COMMITS + spans.STORE_FOLDS),
        ("store.snapshot", SnapshotStore, ("checkpoint",)),
    ]


@dataclass
class Result:
    metrics: dict  # name -> (value, unit)
    attempted: int
    failed: int
    notes: list = field(default_factory=list)  # "# ..." lines for the report


def run_crawl(spark, args, workdir: str, cores: int) -> Result:
    shape = (crawls.TOY_SHAPES if args.toy else crawls.SHAPES)[args.workload]
    session_s = time.perf_counter() - T_START
    print(f"# session {session_s:.2f} s", file=sys.stderr)
    tracer, growth = None, []
    if args.trace:
        before = []

        def between(warehouse):
            usage = crawls.dir_usage(warehouse)
            if before:
                b = before.pop()
                growth.append((usage[0] - b[0], usage[1] - b[1]))
            else:
                before.append(usage)

        with spans.Tracer(spark, crawl_trace_targets(), run_id=args.seed) as tracer:
            reps = crawls.run_reps(spark, shape, args.seed, args.seconds, workdir, between=between)
    else:
        reps = crawls.run_reps(spark, shape, args.seed, args.seconds, workdir)

    attempted = sum(len(r.iter_walls) + r.failed_iterations for r in reps)
    failed = sum(r.failed_iterations + (len(r.iter_walls) if r.mismatches else 0) for r in reps)
    walls = [w for r in reps for w in r.iter_walls]
    notes = [f"{len(reps)} crawl(s), {len(walls)} timed iteration(s)"]
    notes += [f"output check failed: {m}" for r in reps for m in r.mismatches]
    if not walls:
        return Result({}, attempted, failed, notes)
    if tracer is None:
        metrics = crawls.end_to_end(reps, session_s)
        metrics["driver_rss_mb"] = driver_rss_mb()
        return Result({k: (v, UNITS[k]) for k, v in metrics.items()}, attempted, failed, notes)

    stages = spans.read_stages(spark)
    metrics, split = crawls.layer_metrics(
        tracer, stages, spans.read_job_spans(spark), reps, growth, cores)
    wall = split["iteration_wall_s"]
    notes.append(f"layer self time over {split['iterations']} traced iterations, {wall:.3f} s wall:")
    for layer in ("crawl.engine", "store.snapshot"):
        v = split[layer]
        notes.append(f"  {layer:<16} {v:9.3f} s  {100 * v / wall:5.1f}%")
    notes.append(f"stage attribution by span equals stages by time window: {split['attribution_ok']}")
    notes.append(write_trace(args, tracer, stages, split))
    return Result(metrics, attempted, failed, notes)


def run_queries(spark, args, cores: int) -> Result:
    import querysuite

    res = querysuite.SuiteResult()
    querysuite.check_pass(spark, args.seed, args.sample_sf_dir, res)
    querysuite.warm_up_pass(spark, args.seed, args.sf_dir, args.sample_sf_dir, res)
    # the DuckDB side of the check pass is the benchmark's, not the program's
    setup_s = time.perf_counter() - T_START - res.oracle_s
    tracer = spans.Tracer(spark, [], run_id=args.seed) if args.trace else None
    with tracer or contextlib.nullcontext():
        querysuite.timed_passes(spark, args.seed, args.seconds, args.sf_dir,
                                args.sample_sf_dir, res, tracer)
    attempted = len(querysuite.Q.QUERIES)
    failed = len(res.failed)
    notes = [f"{res.passes} timed pass(es), {len(res.neardup)} queries call minhash/similarity"]
    notes += [f"output check failed: {q}: {why}" for q, why in sorted(res.failed.items())]
    if tracer is None:
        metrics = {"setup_s": (setup_s, "s")}
        metrics.update({k: (v, "s") for k, v in querysuite.end_to_end(res).items()})
        metrics["driver_rss_mb"] = (driver_rss_mb(), "MB")
        return Result(metrics, attempted, failed, notes)

    stages = spans.read_stages(spark)
    metrics, split = querysuite.layer_metrics(
        tracer, stages, spans.read_job_spans(spark), res, cores)
    wall = split["query_wall_s"]
    notes.append(f"layer self time over {res.passes} traced pass(es), {wall:.3f} s of query wall:")
    for k in ("queries.construct_s", "queries.plan_s", "queries.exec_s"):
        notes.append(f"  {k:<20} {split[k]:9.3f} s  {100 * split[k] / wall:5.1f}%")
    notes.append(write_trace(args, tracer, stages, split))
    return Result(metrics, attempted, failed, notes)


def write_trace(args, tracer, stages, split) -> str:
    """Write spans and stages; returns the report line naming the file."""
    os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
    path = os.path.join(OUT_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "split": split,
                   "spans": tracer.to_json(), "stages": [s.__dict__ for s in stages]}, f)
    return f"spans and stages written to {os.path.relpath(path, ROOT)}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny crawl inputs, for the self-tests")
    ap.add_argument("--sf-dir", help="query-suite: directory of the sf tables")
    ap.add_argument("--sample-sf-dir", help="query-suite: sample-scale tables, for the "
                    "DuckDB check and the O(N^2) embedding_neardup_pairs")
    args = ap.parse_args(argv)
    if args.workload == "query-suite" and not (args.sf_dir and args.sample_sf_dir):
        ap.error("query-suite needs --sf-dir and --sample-sf-dir")

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = len(os.sched_getaffinity(0))
    workdir = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(workdir)
    try:
        spark = start_spark(workdir, cores)
        try:
            if args.workload == "query-suite":
                result = run_queries(spark, args, cores)
            else:
                result = run_crawl(spark, args, workdir, cores)
            if args.trace:
                result.metrics["jvm.heap_after_gc_mb"] = (spans.jvm_heap_after_gc_mb(spark), "MB")
                result.metrics["jvm.peak_rss_mb"] = (spans.jvm_peak_rss_mb(spark), "MB")
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"# {args.workload} on local[{cores}], seed {args.seed}, trace {args.trace}")
    for line in result.notes:
        print(f"# {line}")
    for name, (value, unit) in result.metrics.items():
        print(f"{args.workload}  {name:<28} {value:>14.6g} {unit}")
    print(f"{args.workload}  {'op_fail_ratio':<28} "
          f"{result.failed / max(result.attempted, 1):>14.6g} ratio")
    if not result.metrics:
        return 1
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

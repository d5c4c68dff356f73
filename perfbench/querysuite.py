"""The query-suite workload: all of ``queries.QUERIES``, one sequential client.

Each query is constructed, planned (``executedPlan()``) and written to a noop
sink; its wall covers all three.  Set-up runs two untimed passes:

- the check pass collects every result over the sample-scale tables and
  compares it with the query's DuckDB twin in ``queries.ORACLES``,
  normalized as ``scripts/check_queries.py`` does.  The twins hold at that
  scale only: the ANN queries size their LSH bit width from the table's row
  count, while their twins fix the 4 bits that width takes at sample scale;
- a warm-up pass over the timed tables.

Timed passes follow, each in an order shuffled from the seed, until they add
up to the requested seconds (at least one).  ``embedding_neardup_pairs`` is
the O(N^2) recall baseline; its docstring prescribes sample scale, so it
always reads the sample-scale tables.
"""

from __future__ import annotations

import contextlib
import functools
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

from feapder_spark import queries as Q
from feapder_spark.operators import minhash as MH
from feapder_spark.operators import similarity as SIM
from scripts.check_queries import TABLES, normalize

SAMPLE_SCALE = ("embedding_neardup_pairs",)


@dataclass
class SuiteResult:
    walls: dict = field(default_factory=dict)  # query -> [wall per timed pass]
    phases: dict = field(default_factory=dict)  # query -> [(construct, plan, exec)]
    neardup: set = field(default_factory=set)  # queries that call minhash/similarity
    failed: dict = field(default_factory=dict)  # query -> reason
    oracle_s: float = 0.0  # DuckDB time inside the check pass
    passes: int = 0
    pass_walls: list = field(default_factory=list)


def compare_frames(got, want) -> str | None:
    """None when equal after normalization, else the first difference."""
    s, d = normalize(got), normalize(want)
    if list(s.columns) != list(d.columns):
        return f"columns: spark={list(s.columns)} duckdb={list(d.columns)}"
    if len(s) != len(d):
        return f"rows: spark={len(s)} duckdb={len(d)}"
    neq = (s != d) & ~(s.isna() & d.isna())
    bad = [c for c in s.columns if neq[c].any()]
    if bad:
        i = neq[bad[0]].idxmax()
        return f"values differ in {bad}, e.g. {bad[0]}[{i}]: spark={s[bad[0]][i]!r} duckdb={d[bad[0]][i]!r}"
    return None


@contextlib.contextmanager
def operator_calls(hit: list):
    """Set ``hit[0] = True`` whenever a public minhash/similarity function
    or one of their private helpers runs inside the block."""
    saved = []

    def wrap(fn):
        @functools.wraps(fn)
        def inner(*a, **k):
            hit[0] = True
            return fn(*a, **k)

        return inner

    for mod in (MH, SIM):
        for name, obj in list(vars(mod).items()):
            if callable(obj) and getattr(obj, "__module__", None) == mod.__name__ \
                    and not isinstance(obj, type):
                saved.append((mod, name, obj))
                setattr(mod, name, wrap(obj))
    try:
        yield
    finally:
        for mod, name, obj in saved:
            setattr(mod, name, obj)


def data_dir(name: str, sf_dir: str, sample_dir: str) -> str:
    return sample_dir if name in SAMPLE_SCALE else sf_dir


def duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_pass(spark, seed: int, sample_dir: str, res: SuiteResult) -> None:
    """Untimed: run each query once over the sample-scale tables, collect it
    and compare with DuckDB."""
    names = random.Random(seed).sample(sorted(Q.QUERIES), len(Q.QUERIES))
    t0 = time.perf_counter()
    con = duck(sample_dir)
    res.oracle_s += time.perf_counter() - t0
    try:
        for name in names:
            hit = [False]
            try:
                with operator_calls(hit):
                    df = Q.QUERIES[name](spark, sample_dir)
                got = df.toPandas()
                t0 = time.perf_counter()
                want = con.sql(Q.ORACLES[name]).df()
                res.oracle_s += time.perf_counter() - t0
            except Exception as ex:  # a failing query is counted, the suite goes on
                traceback.print_exc(file=sys.stderr)
                res.failed[name] = f"raised {type(ex).__name__}"
                continue
            if hit[0]:
                res.neardup.add(name)
            diff = compare_frames(got, want)
            if diff:
                res.failed[name] = diff
    finally:
        con.close()


def timed_pass(spark, names, sf_dir: str, sample_dir: str, res: SuiteResult, tracer=None) -> None:
    span = tracer.span if tracer is not None else (lambda *a: contextlib.nullcontext())
    t_pass = time.perf_counter()
    for name in names:
        d = data_dir(name, sf_dir, sample_dir)
        try:
            with span("queries/query", name):
                t0 = time.perf_counter()
                with span("queries/construct", name):
                    df = Q.QUERIES[name](spark, d)
                t1 = time.perf_counter()
                with span("queries/plan", name):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with span("queries/exec", name):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
        except Exception as ex:  # a failing query is counted, the suite goes on
            traceback.print_exc(file=sys.stderr)
            res.failed[name] = f"raised {type(ex).__name__}"
            continue
        res.walls.setdefault(name, []).append(t3 - t0)
        res.phases.setdefault(name, []).append((t1 - t0, t2 - t1, t3 - t2))
    res.pass_walls.append(time.perf_counter() - t_pass)
    res.passes += 1


def warm_up_pass(spark, seed: int, sf_dir: str, sample_dir: str, res: SuiteResult) -> None:
    """Untimed: one pass over the timed tables."""
    names = [n for n in sorted(Q.QUERIES) if n not in res.failed]
    scratch = SuiteResult()
    timed_pass(spark, random.Random(seed).sample(names, len(names)), sf_dir, sample_dir, scratch)
    res.failed.update(scratch.failed)


def timed_passes(spark, seed: int, seconds: float, sf_dir: str, sample_dir: str,
                 res: SuiteResult, tracer=None) -> None:
    """Timed passes, each in its own seeded order, until ``seconds``."""
    names = [n for n in sorted(Q.QUERIES) if n not in res.failed]
    while True:
        order = random.Random(seed * 1000 + res.passes + 1).sample(names, len(names))
        timed_pass(spark, order, sf_dir, sample_dir, res, tracer)
        if sum(res.pass_walls) >= seconds:
            return


def medians(res: SuiteResult) -> dict:
    return {q: statistics.median(w) for q, w in res.walls.items()}


def end_to_end(res: SuiteResult) -> dict:
    med = medians(res)
    return {
        "suite_s": sum(med.values()),
        "neardup_s": sum(v for q, v in med.items() if q in res.neardup),
        "crawlops_s": sum(v for q, v in med.items() if q not in res.neardup),
    }


def layer_metrics(tracer, stages, job_spans, res: SuiteResult, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics for the traced passes: phase sums of per-query
    medians, per-query medians, and Spark stage totals per pass."""
    phase = {
        k: sum(statistics.median(p[i] for p in res.phases[q]) for q in res.phases)
        for i, k in enumerate(("construct", "plan", "exec"))
    }
    queries = [s for s in tracer.spans if s.name == "queries/query"]
    ids = {s.id for s in tracer.spans}
    ran = [s for s in stages if s.span in ids and s.status != "SKIPPED"]
    n = res.passes
    wall = sum(s.wall for s in queries)
    m = {
        "queries.construct_s": (phase["construct"], "s"),
        "queries.plan_s": (phase["plan"], "s"),
        "queries.exec_s": (phase["exec"], "s"),
        "queries.neardup_count": (len(res.neardup), "count"),
        "spark.jobs": (sum(j in ids for j in job_spans) / n, "count"),
        "spark.stages": (len(ran) / n, "count"),
        "spark.tasks": (sum(s.num_tasks for s in ran) / n, "count"),
        "spark.executor_run_s": (sum(s.run_s for s in ran) / n, "s"),
        "spark.executor_cpu_s": (sum(s.cpu_s for s in ran) / n, "s"),
        "spark.jvm_gc_s": (sum(s.gc_s for s in ran) / n, "s"),
        "spark.cpu_busy": (sum(s.cpu_s for s in ran) / (wall * cores), "ratio"),
        "spark.shuffle_write_mb": (sum(s.shuffle_write_mb for s in ran) / n, "MB"),
        "spark.input_mb": (sum(s.input_mb for s in ran) / n, "MB"),
        "spark.one_task_stage_s": (sum(s.run_s for s in ran if s.num_tasks == 1) / n, "s"),
        "trace.suite_s": (sum(medians(res).values()), "s"),
        **{f"q.{q}_s": (v, "s") for q, v in sorted(medians(res).items())},
    }
    split = {
        "query_wall_s": wall,
        "queries.construct_s": sum(s.wall for s in tracer.spans if s.name == "queries/construct"),
        "queries.plan_s": sum(s.wall for s in tracer.spans if s.name == "queries/plan"),
        "queries.exec_s": sum(s.wall for s in tracer.spans if s.name == "queries/exec"),
    }
    return m, split

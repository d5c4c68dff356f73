"""The two crawl workloads: shapes, the timed loop and the oracle check.

Both are closed loops: the next lease starts only after the previous
iteration's checkpoint, one ``CrawlEngine.run(max_iterations=1)`` at a time.
A crawl seeds a fresh warehouse and runs a fixed number of untimed, then
timed, iterations; crawls repeat until the timed iterations add up to the
requested seconds (at least one crawl).
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from feapder_spark.crawl.engine import CrawlConfig, CrawlEngine
from feapder_spark.crawl.oracle import run_oracle
from feapder_spark.crawl.synthweb import SyntheticWeb
from spans import STORE_COMMITS, STORE_FOLDS, union_seconds


@dataclass(frozen=True)
class CrawlShape:
    n_hosts: int
    pages_per_host: int
    batch_size: int
    iterations: int  # timed, per crawl
    warm_iterations: int  # untimed, at the start of each crawl
    polite: bool  # per-host budgets (hot_cap=4) and a Bloom seen set

    def web(self, seed: int) -> SyntheticWeb:
        return SyntheticWeb(n_hosts=self.n_hosts, pages_per_host=self.pages_per_host, seed=seed)

    def seed_list(self, web: SyntheticWeb) -> list[dict]:
        """Every grid URL, so each iteration leases a full batch whatever
        links the seeded web happens to hold."""
        return [
            {"url": web.url(h, p), "priority": 300}
            for h in range(self.n_hosts)
            for p in range(self.pages_per_host)
        ]

    def politeness(self, web: SyntheticWeb) -> dict | None:
        return web.politeness_budgets(hot_cap=4) if self.polite else None

    def config(self, web: SyntheticWeb) -> CrawlConfig:
        if not self.polite:
            return CrawlConfig(batch_size=self.batch_size, seen_set="exact")
        # bench.py's Bloom sizing: 32 buckets x 30k capacity
        return CrawlConfig(
            batch_size=self.batch_size, politeness=self.politeness(web),
            seen_set="bloom", bloom_buckets=32, bloom_capacity_per_bucket=30_000,
        )


# Each crawl's first iteration is its untimed warm-up: in a fresh process it
# costs about 1.5x a later one.  Two timed iterations follow, and a run
# reports their median: one iteration alone swings with the shared host.
# The bulk grid (18,000 URLs) holds three full 6,000-URL batches; the polite
# one (9,000 URLs) holds over twenty 400-URL batches.  Seeding, the warm-up
# and the check cost about 45 s on a 4-CPU host, so two timed iterations
# keep a run near a minute.
SHAPES = {
    "crawl-bulk": CrawlShape(150, 120, 6000, 2, 1, polite=False),
    "crawl-polite": CrawlShape(150, 60, 400, 2, 1, polite=True),
}
TOY_SHAPES = {
    "crawl-bulk": CrawlShape(8, 6, 24, 1, 1, polite=False),
    "crawl-polite": CrawlShape(8, 6, 8, 2, 1, polite=True),
}


@dataclass
class Rep:
    """One crawl from seeding: its setup, warm-up and timed iterations."""

    seed_s: float
    warm_s: float = 0.0  # the untimed warm-up iterations
    warm_stats: list = field(default_factory=list)
    stats: list = field(default_factory=list)  # timed iterations
    iter_walls: list = field(default_factory=list)
    iter_windows: list = field(default_factory=list)  # epoch (start, end)
    leased_all: int = 0  # timed and warm-up iterations
    store_bytes: int = 0
    obs_fallbacks: int = 0
    failed_iterations: int = 0
    mismatches: list = field(default_factory=list)

    @property
    def iterations(self) -> int:
        return len(self.warm_stats) + len(self.stats)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += f.endswith(".parquet")
    return n_bytes, n_files


def crawl_once(spark, shape: CrawlShape, web_seed: int, warehouse: str, between=None) -> tuple[Rep, CrawlEngine]:
    """Seed a fresh warehouse, run the warm-up iterations, then the timed ones.

    ``between(warehouse)`` runs before and after each timed iteration,
    outside its timing."""
    web = shape.web(web_seed)
    t0 = time.perf_counter()
    engine = CrawlEngine(spark, warehouse, web, shape.config(web))
    engine.seed(shape.seed_list(web))
    rep = Rep(seed_s=time.perf_counter() - t0)
    for i in range(shape.warm_iterations + shape.iterations):
        timed = i >= shape.warm_iterations
        if timed and between is not None:
            between(warehouse)
        t0, e0 = time.perf_counter(), time.time()
        try:
            stats = engine.run(max_iterations=1)
        except Exception:  # a failed iteration is counted, the run goes on to report it
            traceback.print_exc(file=sys.stderr)
            break
        if not stats:
            rep.mismatches.append(f"frontier drained before iteration {i}")
            break
        if not timed:
            rep.warm_s += time.perf_counter() - t0
            rep.warm_stats.extend(stats)
            continue
        rep.iter_walls.append(time.perf_counter() - t0)
        rep.iter_windows.append((e0, time.time()))
        rep.stats.extend(stats)
        if between is not None:
            between(warehouse)
    rep.failed_iterations = shape.iterations - len(rep.iter_walls)
    rep.leased_all = sum(s.leased for s in rep.warm_stats + rep.stats)
    rep.store_bytes = dir_usage(warehouse)[0]
    rep.obs_fallbacks = engine._obs_fallbacks
    return rep, engine


# -- output check -----------------------------------------------------------
def engine_state(engine: CrawlEngine, exact: bool) -> dict:
    """The crawl outputs the oracle defines, read from the state tables."""

    def column(table: str, col: str, order_by: str | None = None) -> list:
        df = engine.t(table).read()
        if order_by:
            df = df.orderBy(order_by)
        return df.select(col).toArrow().column(0).to_pylist()

    docs = engine.t("docs").read().select("doc_id", "spans").toArrow().to_pylist()
    return {
        "crawl_order": column("crawl_order", "fingerprint", order_by="seq"),
        "seen": set(column("seen", "fingerprint")) if exact else None,
        "failed": set(column("failed", "fingerprint")),
        "items": set(column("items", "item_fp")),
        "docs": {r["doc_id"]: r["spans"] for r in docs},
    }


def oracle_state(shape: CrawlShape, web_seed: int, iterations: int) -> dict:
    web = shape.web(web_seed)
    g = run_oracle(
        web, shape.seed_list(web), batch_size=shape.batch_size,
        max_iterations=iterations, politeness=shape.politeness(web),
    )
    return {
        "crawl_order": g.crawl_order,
        "seen": g.seen if not shape.polite else None,
        "failed": g.failed,
        "items": set(g.items),
        "docs": g.docs,
    }


def compare_states(got: dict, want: dict) -> list[str]:
    """Mismatch descriptions; empty when the engine matches the oracle."""
    out = []
    if got["crawl_order"] != want["crawl_order"]:
        n = min(len(got["crawl_order"]), len(want["crawl_order"]))
        i = next((k for k in range(n) if got["crawl_order"][k] != want["crawl_order"][k]), n)
        out.append(f"crawl_order differs at seq {i} (engine {len(got['crawl_order'])} rows, "
                   f"oracle {len(want['crawl_order'])})")
    for key in ("seen", "failed", "items"):
        if got[key] != want[key]:
            a, b = got[key] or set(), want[key] or set()
            out.append(f"{key}: {len(a - b)} extra, {len(b - a)} missing")
    if got["docs"].keys() != want["docs"].keys():
        out.append(f"docs: {len(got['docs'].keys() ^ want['docs'].keys())} doc ids differ")
    bad = [d for d in want["docs"] if d in got["docs"] and got["docs"][d] != want["docs"][d]]
    if bad:
        out.append(f"docs: {len(bad)} span sequences differ, e.g. {bad[0]}")
    return out


ORACLE_MAIN = (
    "import pickle, sys, crawls; "
    "pickle.dump(crawls.oracle_state(*pickle.load(sys.stdin.buffer)), sys.stdout.buffer)"
)


def check_rep(engine: CrawlEngine, shape: CrawlShape, web_seed: int, rep: Rep) -> None:
    # the oracle is pure Python: a process of its own overlaps it with the
    # table reads, which also need this interpreter
    here = os.path.dirname(os.path.abspath(__file__))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([here, os.path.dirname(here)])}
    proc = subprocess.Popen([sys.executable, "-c", ORACLE_MAIN],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env)
    try:
        proc.stdin.write(pickle.dumps((shape, web_seed, rep.iterations)))
        proc.stdin.close()
        got = engine_state(engine, exact=not shape.polite)
        out = proc.stdout.read()
    except BaseException:
        proc.kill()  # it may be blocked writing a result no one will read
        raise
    finally:
        proc.wait()
        proc.stdout.close()
    if proc.returncode != 0:
        raise RuntimeError(f"oracle process exited with {proc.returncode}")
    rep.mismatches.extend(compare_states(got, pickle.loads(out)))


def run_reps(spark, shape: CrawlShape, web_seed: int, seconds: float, workdir: str,
             between=None) -> list[Rep]:
    """Crawls until the timed iterations reach ``seconds``; each is checked
    against the oracle outside the timed region."""
    reps: list[Rep] = []
    while True:
        wh = os.path.join(workdir, f"wh-{len(reps)}")
        rep, engine = crawl_once(spark, shape, web_seed, wh, between)
        t0 = time.perf_counter()
        check_rep(engine, shape, web_seed, rep)
        print(f"# crawl {len(reps)}: seed {rep.seed_s:.2f} s, warm-up {rep.warm_s:.2f} s, iterations "
              f"{[round(w, 2) for w in rep.iter_walls]} s, check {time.perf_counter() - t0:.2f} s",
              file=sys.stderr)
        shutil.rmtree(wh, ignore_errors=True)
        reps.append(rep)
        if rep.failed_iterations or rep.mismatches:
            return reps
        if sum(sum(r.iter_walls) for r in reps) >= seconds:
            return reps


def end_to_end(reps: list[Rep], session_s: float) -> dict:
    """``setup_s`` runs from process start to the first timed iteration:
    session start, then the first crawl's seeding and warm-up iteration.
    The rate and the wall are medians over the timed iterations."""
    rates = [st.leased / w for r in reps for st, w in zip(r.stats, r.iter_walls)]
    return {
        "setup_s": session_s + reps[0].seed_s + reps[0].warm_s,
        "urls_per_s": statistics.median(rates),
        "iter_p50_s": statistics.median(w for r in reps for w in r.iter_walls),
        "store_bytes_per_url": statistics.median(r.store_bytes / r.leased_all for r in reps),
    }


# -- traced run: per-layer rollup -------------------------------------------
COMMIT_TABLES = ("frontier", "frontier_tombs", "seen", "seen_set", "docs", "items",
                 "crawl_order", "failed")


def layer_metrics(tracer, stages, job_spans, reps: list[Rep], growth: list, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics, as means per timed iteration, plus the self-time
    split of the traced iteration walls.  ``job_spans`` holds the span id of
    every Spark job (None if unlabelled); ``growth`` holds one
    ``(bytes, data_files)`` warehouse delta per timed iteration."""

    windows = [w for r in reps for w in r.iter_windows]
    runs = [s for s in tracer.spans if s.name == "crawl.engine/run"
            and any(w0 <= s.start <= w1 for w0, w1 in windows)]
    seeds = [s for s in tracer.spans if s.name == "crawl.engine/seed"]
    n = len(runs)
    acc = {k: 0.0 for k in (
        "lease_fetch", "post_commit", "window", "checkpoint", "fold", "engine_self",
        "store_union", "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle", "input",
        "one_task", "wall", "unattributed")}
    by_table = {t: 0.0 for t in COMMIT_TABLES}
    attribution_ok = True
    for run in runs:
        kids = tracer.children(run)
        commits = [k for k in kids if k.call in STORE_COMMITS]
        first = min(k.start for k in commits)
        acc["wall"] += run.wall
        acc["lease_fetch"] += first - run.start
        acc["post_commit"] += run.end - first
        acc["window"] += max(k.end for k in commits) - first
        for k in commits:
            if k.tag in by_table:
                by_table[k.tag] += k.wall
        acc["checkpoint"] += sum(k.wall for k in kids if k.call == "checkpoint")
        acc["fold"] += sum(k.wall for k in kids if k.call in STORE_FOLDS)
        store = union_seconds((k.start, k.end) for k in kids)
        acc["store_union"] += store
        acc["engine_self"] += run.wall - store
        # stage attribution: by job description (span id) and, as a check,
        # by submission time inside the iteration's wall
        ids = {run.id} | {d.id for d in tracer.descendants(run)}
        labelled = [s for s in stages if s.span in ids and s.status != "SKIPPED"]
        in_window = [s for s in stages if s.status != "SKIPPED" and s.submitted is not None
                     and run.start - 0.001 <= s.submitted <= run.end + 0.001]
        unlabelled = [s for s in in_window if s.span is None]
        attribution_ok &= {id(s) for s in in_window} == {id(s) for s in labelled + unlabelled}
        ran = labelled + unlabelled
        acc["unattributed"] += len(unlabelled)
        acc["stages"] += len(ran)
        acc["tasks"] += sum(s.num_tasks for s in ran)
        acc["run_s"] += sum(s.run_s for s in ran)
        acc["cpu_s"] += sum(s.cpu_s for s in ran)
        acc["gc_s"] += sum(s.gc_s for s in ran)
        acc["shuffle"] += sum(s.shuffle_write_mb for s in ran)
        acc["input"] += sum(s.input_mb for s in ran)
        acc["one_task"] += sum(s.run_s for s in ran if s.num_tasks == 1)
        acc["jobs"] += sum(j in ids for j in job_spans)
    stats = [st for r in reps for st in r.stats]
    links = sum(st.links_new + st.links_dup for st in stats)
    leased = sum(st.leased for st in stats)
    m = {
        "engine.seed_s": (statistics.median(s.wall for s in seeds), "s"),
        "engine.lease_fetch_s": (acc["lease_fetch"] / n, "s"),
        "engine.post_commit_s": (acc["post_commit"] / n, "s"),
        "engine.self_s": (acc["engine_self"] / n, "s"),
        "engine.leased": (leased / n, "count"),
        "fetcher.ok_ratio": (sum(st.fetched_ok for st in stats) / leased, "ratio"),
        "seen_set.new_ratio": (sum(st.links_new for st in stats) / links if links else 0.0, "ratio"),
        "engine.obs_fallbacks": (sum(r.obs_fallbacks for r in reps), "count"),
        "store.self_s": (acc["store_union"] / n, "s"),
        "store.commit_window_s": (acc["window"] / n, "s"),
        **{f"store.commit.{t}_s": (v / n, "s") for t, v in by_table.items()},
        "store.checkpoint_s": (acc["checkpoint"] / n, "s"),
        "store.fold_s": (acc["fold"] / n, "s"),
        "store.bytes_written_mb": (sum(b for b, _ in growth) / n / 1e6, "MB"),
        "store.data_files": (sum(f for _, f in growth) / n, "count"),
        "spark.jobs": (acc["jobs"] / n, "count"),
        "spark.stages": (acc["stages"] / n, "count"),
        "spark.tasks": (acc["tasks"] / n, "count"),
        "spark.unattributed_stages": (acc["unattributed"] / n, "count"),
        "spark.executor_run_s": (acc["run_s"] / n, "s"),
        "spark.executor_cpu_s": (acc["cpu_s"] / n, "s"),
        "spark.jvm_gc_s": (acc["gc_s"] / n, "s"),
        "spark.cpu_busy": (acc["cpu_s"] / (acc["wall"] * cores), "ratio"),
        "spark.shuffle_write_mb": (acc["shuffle"] / n, "MB"),
        "spark.input_mb": (acc["input"] / n, "MB"),
        "spark.one_task_stage_s": (acc["one_task"] / n, "s"),
        "trace.iter_p50_s": (statistics.median(s.wall for s in runs), "s"),
    }
    split = {
        "iterations": n,
        "iteration_wall_s": acc["wall"],
        "crawl.engine": acc["engine_self"],
        "store.snapshot": acc["store_union"],
        "attribution_ok": attribution_ok,
    }
    return m, split


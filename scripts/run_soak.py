"""Long-run compaction soak (VERDICT r4 #8): 560 TTL-mode crawl iterations
under the engine's storage-maintenance policy, recording per-iteration wall
time and frontier segment/file counts.

What it proves: per-band file counts grow one segment per iteration until
the engine's MINOR FOLD fires (past engine.FOLD_SEGMENTS=64 segments,
round 5's answer to the r5 soak observation that wall drifted
~15 ms/segment/iteration): the smallest segments bin-pack into one
(store/snapshot.fold_segments, no anti-join), so the per-iteration read
cost — and therefore the wall — stays flat for arbitrarily many
iterations, with the full compact_frontier reserved for the
tombstone-ratio trigger.
TTL mode (seen_ttl_iterations) keeps the frontier perpetually
re-claimable, which is exactly the reference's ExpireFilter
incremental-crawl loop — the configuration where a crawl genuinely runs
for 10^3+ iterations.

Usage:  python scripts/run_soak.py [iters] [warehouse]
Prints one JSON line; exits non-zero if no maintenance ever ran (when
iters exceed the fold threshold) or wall-time drift is unbounded.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 560
    wh = sys.argv[2] if len(sys.argv) > 2 else "/tmp/soak_wh"
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("feapder_spark_soak")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from feapder_spark.crawl import engine as engine_module
    from feapder_spark.crawl.engine import CrawlConfig, CrawlEngine
    from feapder_spark.crawl.synthweb import SyntheticWeb

    web = SyntheticWeb(n_hosts=2, pages_per_host=8, seed=42, flaky_every=10**9)
    cfg = CrawlConfig(batch_size=6, seen_ttl_iterations=3)
    assert engine_module.FOLD_SEGMENTS == 64, "soak must run the DEFAULT fold cadence"
    assert engine_module.COMPACT_MIN_TOMBSTONES == 100_000, "soak must run the DEFAULT cadence"
    engine = CrawlEngine(spark, wh, web, cfg)
    engine.seed(web.seeds(4))

    # count full compactions vs minor folds separately (both shrink the
    # segment list; only compaction pays the O(visible) anti-join rewrite)
    counts = {"compactions": 0, "folds": 0}
    orig_compact = engine.compact_frontier
    def _compact_counted():
        counts["compactions"] += 1
        orig_compact()
    engine.compact_frontier = _compact_counted
    adds_t = engine.t("frontier")
    orig_fold = adds_t.fold_segments
    def _fold_counted(max_segments, max_fold_bytes=None):
        v = orig_fold(max_segments, max_fold_bytes=max_fold_bytes)
        if v is not None:
            counts["folds"] += 1
        return v
    adds_t.fold_segments = _fold_counted

    walls, seg_traj = [], []
    for i in range(iters):
        t0 = time.time()
        st = engine._iterate()
        walls.append(time.time() - t0)
        if st is None:
            break
        seg_traj.append(len(engine.t("frontier").manifest().segments or []))

    n = len(walls)
    dec = max(1, n // 10)
    first_decile = sum(walls[:dec]) / dec
    last_decile = sum(walls[-dec:]) / dec
    # wall right after each compaction vs right before it (drift reset)
    report = {
        "iterations": n,
        "compactions_fired": counts["compactions"],
        "folds_fired": counts["folds"],
        "max_adds_segments": max(seg_traj),
        "final_adds_segments": seg_traj[-1],
        "first_decile_wall_sec": round(first_decile, 3),
        "last_decile_wall_sec": round(last_decile, 3),
        "decile_ratio": round(last_decile / first_decile, 3),
        "max_wall_sec": round(max(walls), 3),
        "frontier_leaf_files": engine.t("frontier").leaf_partition_count(),
    }
    print(json.dumps(report))
    ok = True
    if n > engine_module.FOLD_SEGMENTS + 8 and counts["folds"] + counts["compactions"] == 0:
        ok = False  # the default maintenance cadence must have fired
    if report["decile_ratio"] > 2.0:
        ok = False  # lease/iteration wall must stay flat across the soak
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

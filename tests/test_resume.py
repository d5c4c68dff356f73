"""Resume-from-checkpoint: kill after k iterations, restart, final state
equals the uninterrupted run (SURVEY §5 test plan #3)."""

from feapder_spark.crawl import engine as engine_module
from feapder_spark.crawl.engine import CrawlConfig, CrawlEngine
from feapder_spark.crawl.oracle import run_oracle
from feapder_spark.crawl.synthweb import SyntheticWeb


def test_resume_equals_uninterrupted(spark, tmp_path):
    web = SyntheticWeb(n_hosts=6, pages_per_host=5, seed=42)
    seeds = web.seeds(6)
    golden = run_oracle(web, seeds, batch_size=12)

    # run 1: stop after 3 iterations ("crash")
    e1 = CrawlEngine(spark, str(tmp_path / "wh"), web, CrawlConfig(batch_size=12))
    e1.seed(seeds)
    e1.run(max_iterations=3)

    # simulate a torn iteration: partial commits with no checkpoint — one
    # plain table AND one banded frontier commit (whose per-band manifest
    # counts must roll back with the data, or the pruned lease would trust
    # phantom rows)
    e1.t("seen").commit(
        spark.createDataFrame([("deadbeef", 99)], "fingerprint STRING, added_iteration INT"),
        mode="append",
    )
    from feapder_spark.crawl import frontier as FR

    junk = spark.createDataFrame(
        [(
            "deadbeef", "http://x.test/x", "http://x.test/x", "x.test", 7, 0,
            "TestParser", "todo", 99, None, None, None, True,
        )],
        FR.FRONTIER_DDL,
    )
    e1._commit_frontier_adds(junk, 1)

    # run 2: a fresh engine on the same warehouse resumes and finishes
    e2 = CrawlEngine(spark, str(tmp_path / "wh"), web, CrawlConfig(batch_size=12))
    ckpt = e2.resume()
    assert ckpt is not None and ckpt["label"]["iteration"] == 3
    assert e2.seed(seeds) is False  # frontier non-empty ⇒ no re-seed
    e2.run()

    order = [
        r.fingerprint
        for r in e2.t("crawl_order").read().orderBy("seq").select("fingerprint").collect()
    ]
    seen = {r.fingerprint for r in e2.t("seen").read().collect()}
    assert "deadbeef" not in seen, "torn partial commit must be discarded on resume"
    assert order == golden.crawl_order
    assert seen == golden.seen
    # the torn banded commit rolled back manifest counts too: band 7 gone,
    # and drained adds-minus-tombs nets zero in every band
    am = e2.t("frontier").manifest()
    tm = e2.t("frontier_tombs").manifest()
    a = (am.meta or {}).get("part_rows") or {}
    t = (tm.meta or {}).get("part_rows") or {}
    assert "7" not in a, "phantom band from the torn commit survived resume"
    assert all(a[b] - t.get(b, 0) == 0 for b in a), (a, t)


def test_compaction_preserves_crawl_equivalence(spark, tmp_path, monkeypatch):
    """compact_frontier is pure maintenance: with compaction forced after
    EVERY iteration, the crawl must replay the oracle unchanged, and the
    tombstone log must stay empty after each fold."""
    from feapder_spark.crawl.oracle import run_oracle
    from feapder_spark.crawl.synthweb import SyntheticWeb

    web = SyntheticWeb(n_hosts=4, pages_per_host=3, seed=42)
    seeds = web.seeds(4)
    golden = run_oracle(web, seeds, batch_size=8)

    monkeypatch.setattr(engine_module, "COMPACT_MIN_TOMBSTONES", 1)
    cfg = CrawlConfig(batch_size=8)
    engine = CrawlEngine(spark, str(tmp_path / "wh"), web, cfg)
    engine.seed(seeds)
    engine.run()
    order = [
        r.fingerprint
        for r in engine.t("crawl_order").read().orderBy("seq").select("fingerprint").collect()
    ]
    assert order == golden.crawl_order
    assert {r.fingerprint for r in engine.t("seen").read().collect()} == golden.seen
    assert engine.t("frontier_tombs").read().count() == 0
    assert engine.tombstone_rows == 0
    # the compacted adds table IS the visible set (no shadowed rows)
    assert engine.t("frontier").read().count() == engine.frontier().count()

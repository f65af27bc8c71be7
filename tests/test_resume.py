"""Checkpoint/resume contract (SURVEY §5.4, north rule): a crawl killed
after round k and resumed from the snapshot store must produce the
byte-identical final ordering and URL-seen set."""

import tempfile

import pytest
from test_engine_edge_cases import _extinction_fixture

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import CrawlEngine, fetch_order
from crawler_service_spark.sources.corpus import (
    build_policy_df,
    build_seeds_df,
    build_store_df,
)
from crawler_service_spark.sources.storage import SnapshotStore

N_DOCS, N_HOSTS, N_SEEDS = 300, 8, 4


def _ordered(tables):
    return [
        (r["task_id"], r["fetch_seq"], r["depth"], r["url"], r["canon_url"],
         r["effective_status"], r["retry_attempts"])
        for r in fetch_order(tables.pages)
        .orderBy("task_id", "fetch_seq")
        .collect()
    ]


def test_interrupt_after_first_round_then_resume(spark):
    cfg = CrawlConfig(max_depth=3, follow_links=True)
    store = build_store_df(spark, N_DOCS, N_HOSTS)
    seeds = build_seeds_df(spark, N_DOCS, N_HOSTS, N_SEEDS)
    policy = build_policy_df(spark, N_HOSTS)

    with tempfile.TemporaryDirectory() as ref_dir:
        full = CrawlEngine(spark, cfg, store, checkpoint_dir=ref_dir,
                           policy=policy).crawl(seeds)
        want = _ordered(full)
        want_seen = {(r["task_id"], r["canon_url"]) for r in full.seen.collect()}

    with tempfile.TemporaryDirectory() as ck:
        # "killed" after round 0: max_rounds=1 stops with the round-1
        # frontier committed but unfetched
        interrupted = CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                                  policy=policy, max_rounds=1).crawl(seeds)
        assert len(_ordered(interrupted)) < len(want)

        resumed = CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                              policy=policy).crawl(resume=True)
        assert _ordered(resumed) == want
        got_seen = {(r["task_id"], r["canon_url"]) for r in resumed.seen.collect()}
        assert got_seen == want_seen


def test_resume_of_complete_crawl_is_stable(spark):
    cfg = CrawlConfig(max_depth=1, follow_links=True)
    store = build_store_df(spark, 150, 5)
    seeds = build_seeds_df(spark, 150, 5, 2)
    with tempfile.TemporaryDirectory() as ck:
        first = CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds)
        again = CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(resume=True)
        assert _ordered(first) == _ordered(again)


def _pages(tables):
    return sorted(
        (r["task_id"], r["round"], r["depth"], r["discovery_seq"],
         r["canon_url"], r["virtual_fetch_time"], r["effective_status"])
        for r in tables.pages.collect()
    )


def test_deferral_resume_at_every_round(spark):
    """budget_rounds crawl whose frontier max regresses, with the bloom
    prefilter on from round 0: stopping after each round k and resuming
    gives the uninterrupted crawl's fetch order, discovery_seq, virtual
    fetch times and seen set. The legs chain — leg k resumes leg k-1's
    checkpoint and stops after round k — so every round boundary is a
    stop point and every resume reads only the manifest."""
    cfg = CrawlConfig(max_depth=2, follow_links=True, default_rate_limit=1,
                      budget_rounds=1, large_seen_threshold=0)
    store, seeds, _, _ = _extinction_fixture(spark)

    with tempfile.TemporaryDirectory() as ref_dir:
        full = CrawlEngine(spark, cfg, store, checkpoint_dir=ref_dir).crawl(seeds)
        n_rounds = len(full.round_counters)
        assert n_rounds > 3, "needs a multi-round deferral crawl"
        want = _ordered(full)
        want_pages = _pages(full)
        want_seen = {(r["task_id"], r["canon_url"]) for r in full.seen.collect()}

    with tempfile.TemporaryDirectory() as ck:
        leg = CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                          max_rounds=1).crawl(seeds)
        for k in range(2, n_rounds + 1):
            assert _pages(leg) == [p for p in want_pages if p[1] < k - 1]
            leg = CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                              max_rounds=k).crawl(resume=True)
        assert _ordered(leg) == want
        assert _pages(leg) == want_pages
        assert {(r["task_id"], r["canon_url"])
                for r in leg.seen.collect()} == want_seen


def test_resume_without_carried_counters_raises(spark):
    """A manifest written before the next-frontier counters existed
    cannot be resumed: the error names the missing counter."""
    store = build_store_df(spark, 20, 2)
    with tempfile.TemporaryDirectory() as ck:
        SnapshotStore(ck).commit_round(
            0, ["pages", "seen", "frontier"],
            {"frontier": 2, "depth": 0, "seq_base": 2, "vclock_next": 60.0,
             "n_pages": 2, "n_errors": 0, "total_retries": 0,
             "approx_hosts": 2})
        engine = CrawlEngine(spark, CrawlConfig(), store, checkpoint_dir=ck)
        with pytest.raises(ValueError, match="next_frontier"):
            engine.crawl(resume=True)

"""Bucket-sorted frontier snapshots (the engine's only frontier layout).

The rank over a layout snapshot must plan with no payload exchange and
no sort, a resume in a session whose catalog lost the table must
re-register it from the files (the Iceberg-spec analog), and the
bucket-id stamping must refuse files that would break the layout. The
crawl results themselves are pinned against the oracle and the
reference rank in tests/test_engine_vs_oracle.py.
"""
from __future__ import annotations

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import CrawlEngine, fetch_order
from crawler_service_spark.sources.corpus import build_seeds_df, build_store_df


def _crawl(spark, tmp_path, sub):
    cfg = CrawlConfig(max_depth=2, follow_links=True, shuffle_partitions=8)
    eng = CrawlEngine(spark, cfg, build_store_df(spark, 120, 5),
                      checkpoint_dir=str(tmp_path / sub))
    return eng.crawl(build_seeds_df(spark, 120, 5, 3))


def test_layout_frontier_scan_rank_plan(spark, tmp_path):
    """Over the bucket-sorted round-0 frontier snapshot, the presalted
    rank's payload side must contain neither Exchange nor Sort — the
    layout carries both."""
    cfg = CrawlConfig(max_depth=1, follow_links=True, shuffle_partitions=8)
    eng = CrawlEngine(spark, cfg, build_store_df(spark, 60, 3),
                      checkpoint_dir=str(tmp_path / "p"))
    eng.crawl(build_seeds_df(spark, 60, 3, 2))
    snap = eng._read_frontier(0)
    from crawler_service_spark.operators.politeness import rank_presalted
    ranked = rank_presalted(snap, "depth")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    payload = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in payload, payload
    assert "Sort" not in payload, payload


def test_layout_resume_reregisters_catalog(spark, tmp_path):
    """Kill-and-resume with the catalog wiped: read_table_bucketed must
    recreate the external bucketed table over the surviving files and the
    resumed crawl must complete identically to an uninterrupted one."""
    cfg = CrawlConfig(max_depth=2, follow_links=True, shuffle_partitions=8)
    store = build_store_df(spark, 120, 5)
    seeds = build_seeds_df(spark, 120, 5, 3)

    full = CrawlEngine(spark, cfg, store,
                       checkpoint_dir=str(tmp_path / "full")).crawl(seeds)
    want = {tuple(r) for r in fetch_order(full.pages)
            .select("task_id", "canon_url", "fetch_seq").collect()}

    # interrupted run: max_rounds=1 commits round 0 + frontier 1
    eng1 = CrawlEngine(spark, cfg, store,
                       checkpoint_dir=str(tmp_path / "part"), max_rounds=1)
    eng1.crawl(seeds)
    # simulate a fresh session: drop every snap_* catalog entry
    for t in spark.catalog.listTables():
        if t.name.startswith("snap_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    eng2 = CrawlEngine(spark, cfg, store, checkpoint_dir=str(tmp_path / "part"))
    resumed = eng2.crawl(resume=True)
    got = {tuple(r) for r in fetch_order(resumed.pages)
           .select("task_id", "canon_url", "fetch_seq").collect()}
    assert got == want


def test_bucketize_rejects_poisoned_and_duplicate_files(tmp_path):
    """The rename-register layout's invariants fail LOUDLY (r03 VERDICT
    item 4): a data file that doesn't match Spark's part-file naming, a
    bucket id >= the declared count, or two files for one bucket would
    each make the registered bucketed scan silently misgroup/skip rows."""
    import pytest

    from crawler_service_spark.sources.storage import SnapshotStore

    uuid = "0123abcd-89ab-cdef-0123-456789abcdef"

    def mk(files):
        d = tmp_path / f"case{mk.n}"
        mk.n += 1
        d.mkdir()
        for f in files:
            (d / f).write_bytes(b"x")
        return str(d)
    mk.n = 0

    # clean case: all files match, ids unique and < count
    ok = mk([f"part-{i:05d}-{uuid}-c000.lz4.parquet" for i in range(4)]
            + ["_SUCCESS"])
    SnapshotStore._bucketize_files(ok, 4)
    import os
    assert sorted(os.listdir(ok)) == sorted(
        [f"part-{i:05d}-{uuid}_{i:05d}.c000.lz4.parquet" for i in range(4)]
        + ["_SUCCESS"])

    # poisoned: a stray .parquet that matches nothing
    with pytest.raises(ValueError, match="does not match"):
        SnapshotStore._bucketize_files(
            mk([f"part-00000-{uuid}-c000.parquet", "extra.parquet"]), 4)

    # bucket id beyond the declared count
    with pytest.raises(ValueError, match="bucket id 7"):
        SnapshotStore._bucketize_files(
            mk([f"part-00007-{uuid}-c000.parquet"]), 4)

    # two files for one bucket (e.g. a speculative-retry leftover)
    with pytest.raises(ValueError, match="duplicate"):
        SnapshotStore._bucketize_files(
            mk([f"part-00001-{uuid}-c000.parquet",
                f"part-00001-{uuid.replace('0123a', 'ffffa')}-c000.parquet"]),
            4)


def test_layout_checkpoint_dir_with_apostrophe(spark, tmp_path):
    """LOCATION literals are escaped: a checkpoint dir containing an
    apostrophe (legal in POSIX paths, common in macOS user dirs) must
    not break the bucketed write/read DDL."""
    t = _crawl(spark, tmp_path, "bob's crawl")
    assert fetch_order(t.pages).count() > 0
    assert "_salt" not in t.pages.columns


def test_bucketed_write_observes_runtime_empty_input(spark, tmp_path):
    """The frontier write's observed count/min/max — the next round's
    counters — must arrive even when adaptive execution finds the input
    empty at runtime (an anti-join that removes every row), the shape
    of a crawl's last expansion."""
    from pyspark.sql import functions as F

    from crawler_service_spark.sources.storage import SnapshotStore

    rows = spark.range(40).select(
        (F.col("id") % 4).cast("string").alias("host"),
        (F.col("id") % 2).alias("_salt"), F.col("id").alias("seq"))
    metrics = [F.count(F.lit(1)).alias("n"), F.min("seq").alias("mn"),
               F.max("seq").alias("mx")]
    store = SnapshotStore(str(tmp_path))
    got = store.write_table_bucketed(
        rows, "t", 0, 4, ["host", "_salt"], ["host", "seq"], metrics=metrics)
    assert got == {"n": 40, "mn": 0, "mx": 39}
    empty = rows.join(rows.select("seq"), "seq", "left_anti")
    got = store.write_table_bucketed(
        empty, "t", 1, 4, ["host", "_salt"], ["host", "seq"], metrics=metrics)
    assert got == {"n": 0, "mn": None, "mx": None}
    assert store.write_table_bucketed(
        rows, "t", 2, 4, ["host", "_salt"], ["host", "seq"]) == {}

"""Equality pins for the salted host rank (RL1, north rule).

The salted rank must produce EXACTLY the ranks of the plain per-host
window (tests/rank_reference.py) — including hot hosts spanning many
salt buckets, mixed-priority hosts, NULL priorities, and the
budget-deferral split built on top of the ranks — whether the batch
arrives presalted or is salted inside ``schedule_round``.
"""

from pyspark.sql import functions as F

from crawler_service_spark.operators.politeness import (
    presalt,
    rank_presalted,
    schedule_round,
)
from rank_reference import reference_rank, reference_schedule


def _mixed_batch(spark, n=20_000):
    """One hot host (~1/3 of rows), one hot-sized mixed-priority host, a
    ring of cold hosts."""
    return spark.range(n).select(
        F.when(F.col("id") % 3 == 0, "hot.example.com")
        .when(F.col("id") % 7 == 0, "mixed.example.com")
        .otherwise(
            F.concat(F.lit("h"), (F.col("id") % 11).cast("string"),
                     F.lit(".example.com"))
        ).alias("host"),
        F.when(F.col("id") % 7 == 0, (F.col("id") % 2).cast("int"))
        .otherwise(F.lit(0)).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )


def _rows(df, cols):
    return {tuple(r) for r in df.select(cols).collect()}


def test_salted_rank_equals_plain_window(spark):
    """An unsalted batch is salted inside schedule_round (20 buckets on
    the hot host) and ranks exactly like the plain window."""
    b = _mixed_batch(spark)
    ranked, _ = schedule_round(b, None, shuffle_partitions=8, salt_width=1000)
    cols = [*b.columns, "host_rank"]
    assert _rows(ranked, cols) == _rows(reference_rank(b), cols)
    # column order is part of the operator contract (callers select by
    # name, but unioning code paths must agree); the internal salt does
    # not leak
    assert ranked.columns == b.columns + [
        "rate_limit", "window_s", "crawl_delay_s", "disallow_prefixes",
        "host_rank", "virtual_fetch_time"]


def test_schedule_round_salted_vs_unsalted_budget_split(spark):
    b = _mixed_batch(spark)
    cols = ["host", "discovery_seq", "host_rank", "virtual_fetch_time"]
    adm_r, def_r = reference_schedule(b, limit=5, budget_rounds=2)
    # many salt buckets per host, and one bucket per host
    for width in (1000, 10 ** 9):
        adm, dfr = schedule_round(
            b, None, default_limit=5, budget_rounds=2,
            shuffle_partitions=8, salt_width=width)
        assert _rows(adm, cols) == _rows(adm_r, cols), width
        assert (_rows(dfr, ["host", "discovery_seq"])
                == _rows(def_r, ["host", "discovery_seq"])), width

def _const_priority_batch(spark, n=20_000):
    """Hot host + cold ring, priority constant per host (the presalted
    precondition) — every host at depth 0 except one cold host at 1."""
    return spark.range(n).select(
        F.when(F.col("id") % 3 == 0, "hot.example.com")
        .otherwise(
            F.concat(F.lit("h"), (F.col("id") % 11).cast("string"),
                     F.lit(".example.com"))
        ).alias("host"),
        F.when((F.col("id") % 3 != 0) & (F.col("id") % 11 == 5), 1)
        .otherwise(0).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )


def test_presalted_rank_equals_plain_window(spark):
    b = _const_priority_batch(spark)
    ranked = rank_presalted(presalt(b, 1000), "depth")
    got = {tuple(r) for r in ranked.drop("_salt").collect()}
    want = {tuple(r) for r in reference_rank(b).collect()}
    assert got == want


def test_presalted_rank_handles_mixed_priority(spark):
    """r03: mixed priority within a host is VALID — the rank partitions
    by (host, depth, _salt) and orders buckets depth-major, so it must
    equal the plain (depth, discovery_seq) window even on the
    mixed-priority host (the old variant raised here)."""
    b = _mixed_batch(spark)  # mixed.example.com varies depth within host
    ranked = rank_presalted(presalt(b, 1000), "depth")
    got = {tuple(r) for r in ranked.drop("_salt").collect()}
    want = {tuple(r) for r in reference_rank(b).collect()}
    assert got == want


def test_schedule_round_presalted_matches_plain(spark):
    b = _const_priority_batch(spark)
    cols = ["host", "discovery_seq", "host_rank", "virtual_fetch_time"]
    adm_s, def_s = schedule_round(
        presalt(b, 1000), None, default_limit=5, budget_rounds=2,
        rank_strategy="presalted")
    adm_r, def_r = reference_schedule(b, limit=5, budget_rounds=2)
    assert _rows(adm_s, cols) == _rows(adm_r, cols)
    assert (_rows(def_s, ["host", "discovery_seq"])
            == _rows(def_r, ["host", "discovery_seq"]))


def test_presalted_rank_over_bucketed_snapshot_no_exchange(spark, tmp_path):
    """The layout contract: over a snapshot written BUCKETED BY
    (host, _salt), the presalted rank's physical plan contains NO
    payload exchange — bucketing satisfies both the window's and the
    count aggregate's clustering (the offsets exchange is the tiny
    per-bucket count frame, behind the broadcast)."""
    b = presalt(_const_priority_batch(spark), 1000)
    spark.sql("DROP TABLE IF EXISTS t_presalt_snap")
    (b.write.mode("overwrite").format("parquet")
     .bucketBy(8, "host", "_salt")
     .option("path", str(tmp_path / "t_presalt_snap"))
     .saveAsTable("t_presalt_snap"))
    snap = spark.table("t_presalt_snap")
    ranked = rank_presalted(snap, "depth")
    # parity first
    want = {tuple(r) for r in reference_rank(b).drop("_salt").collect()}
    got = {tuple(r) for r in ranked.drop("_salt").collect()}
    assert got == want
    # plan: the only exchanges allowed feed the tiny offsets branch
    # (count frame + its window); the payload side must scan → window
    # with no Exchange in between
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    payload = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in payload, payload
    spark.sql("DROP TABLE IF EXISTS t_presalt_snap")


def test_presalted_rank_cross_bucket_priority(spark):
    """The deferred-reentry shape: priority constant within every salt
    bucket but different across buckets of one host — a later-seq bucket
    carries HIGHER priority (lower depth). The depth-major offset cumsum
    must rank the depth-0 (later-seq) rows 1..2000 ahead of the depth-1
    (earlier-seq) rows (the pre-r03 variant raised on this shape)."""
    b = spark.range(4000).select(
        F.lit("x.example.com").alias("host"),
        F.when(F.col("id") < 2000, 1).otherwise(0).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    ranked = rank_presalted(presalt(b, 1000), "depth")
    rows = {r["discovery_seq"]: r["host_rank"] for r in ranked.collect()}
    for seq, rank in rows.items():
        if seq >= 2000:   # depth 0: fetched first, in seq order
            assert rank == seq - 2000 + 1
        else:             # depth 1: after all depth-0 rows
            assert rank == 2000 + seq + 1


def test_presalted_rank_null_priority_both_strategies(spark):
    """NULL priorities are a group of their own (plain-window NULLS FIRST
    semantics) whether the caller presalts the batch or schedule_round
    salts it. Regression (r05 code review): a using-columns offsets
    equi-join silently DROPPED NULL-priority rows (NULL keys never
    equi-match)."""
    b = _mixed_batch(spark, 5_000).withColumn(
        "depth",
        F.when(F.col("discovery_seq") % 5 == 0, F.lit(None))
        .otherwise(F.col("depth")).cast("int"))
    want = {tuple(r) for r in reference_rank(b).collect()}
    presalted = rank_presalted(presalt(b, 500), "depth").drop("_salt")
    salted_inside, _ = schedule_round(b, None, shuffle_partitions=8,
                                      salt_width=500)
    for name, ranked in (("presalted", presalted),
                         ("salted inside", salted_inside)):
        got = {tuple(r) for r in ranked.select(*b.columns, "host_rank").collect()}
        assert got == want, name

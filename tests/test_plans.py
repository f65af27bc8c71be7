"""Physical-plan regression tests: pushdown, pruning, broadcast, codegen,
and shuffle budgets for the load-bearing operators (SURVEY §4)."""

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.operators.politeness import schedule_round
from crawler_service_spark.plans import (
    count_exchanges,
    explain_str,
    has_broadcast_hash_join,
    pushed_filters,
    read_schema_columns,
    uses_whole_stage_codegen,
)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderkey") > 100)
        .select("o_orderkey")
    )
    pushed = pushed_filters(df)
    assert any("o_orderkey" in p for p in pushed), pushed


def test_projection_pruned_to_read_schema(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    schemas = read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}, schemas


def test_policy_join_broadcasts(spark):
    from crawler_service_spark.queries import q_j2_policy_join

    assert has_broadcast_hash_join(q_j2_policy_join(spark, SF_DIR))


def test_tpch_q1_stays_in_codegen(spark):
    from crawler_service_spark.queries import q_tpch_q1_pricing

    df = q_tpch_q1_pricing(spark, SF_DIR)
    assert uses_whole_stage_codegen(lambda: q_tpch_q1_pricing(spark, SF_DIR))
    # one shuffle for the groupBy, nothing else
    assert count_exchanges(df) == 1, explain_str(df)


def test_skew_safe_schedule_shuffle_budget(spark):
    # an unsalted batch with a hot host: schedule_round salts it by seq
    # range and repartitions on (host, _salt) — building the plan runs no
    # Spark job (no driver stats collect), and the payload crosses that
    # ONE exchange; the only other exchanges feed the tiny per-bucket
    # offsets frame behind the broadcast
    hot = spark.range(3000).select(
        F.when(F.col("id") < 2000, "hot").otherwise(
            F.concat(F.lit("h"), (F.col("id") % 7).cast("string"))).alias("host"),
        F.lit(0).alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    sc = spark.sparkContext
    group = "schedule_round_build"
    sc.setJobGroup(group, "plan-build probe")
    try:
        admitted, _ = schedule_round(hot, None, shuffle_partitions=8,
                                     salt_width=500)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    plan = admitted._jdf.queryExecution().executedPlan().toString()
    payload, _, offsets = plan.partition("BroadcastExchange")
    assert payload.count("Exchange") == 1, plan
    assert "hashpartitioning(host" in payload and "_salt" in payload, plan
    assert "Exchange" in offsets, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_anti_join_seen_is_exact_anti(spark):
    from crawler_service_spark.operators.dedup import anti_join_seen

    batch = spark.range(1000).select(F.concat(F.lit("u"), "id").alias("canon_url"))
    seen = spark.range(500).select(F.concat(F.lit("u"), (F.col("id") * 2)).alias("canon_url"))
    out = anti_join_seen(batch, seen, ["canon_url"])
    assert "LeftAnti" in explain_str(out)
    assert out.count() == 500


def test_minhash_signature_hashes_each_shingle_once(spark):
    """T2 MinHash: one md5 per shingle, digest sliced into lanes — the
    optimized plan must carry exactly ONE md5 node (CollapseProject must
    not inline the shared hash array into the four array_min consumers)
    and the map must stay shuffle-free."""
    from crawler_service_spark.queries import q_dedup_minhash_sig

    df = q_dedup_minhash_sig(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("md5") == 1, optimized
    assert count_exchanges(df) == 0, explain_str(df)

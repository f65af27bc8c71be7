"""Operator replay: split the work inside one engine action by layer.

The engine's lazy operators run fused inside a few actions (the pages
write runs rank + fetch join + extraction; the dense-sequence collect and
the frontier write each run link expansion, canonicalization, dedup and
the seen anti-join). For each committed round this module calls the same
public operators on that round's checkpointed inputs, caches each
operator's output and forces it, so each action times one operator and
Observations count its rows in and out.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from crawler_service_spark.functions.classify import resolve_fetch_outcome
from crawler_service_spark.functions.urls import (
    canonicalize_frame,
    native_canon_eligible,
)
from crawler_service_spark.operators.dedup import (
    ShardedBloomFilter,
    anti_join_seen,
    first_occurrence,
)
from crawler_service_spark.operators.extract import extract_pages
from crawler_service_spark.operators.links import (
    expand_links,
    filter_internal,
    filter_robots,
)
from crawler_service_spark.operators.politeness import schedule_round
from crawler_service_spark.sources.storage import SnapshotStore

KEYS = ["task_id", "canon_url"]


def _force(df: DataFrame, *exprs) -> tuple[float, dict]:
    """Run ``df`` into the noop sink; (seconds, observed values)."""
    obs = Observation()
    t0 = time.perf_counter()
    df.observe(obs, F.count(F.lit(1)).alias("rows"), *exprs) \
        .write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, {k: int(v or 0) for k, v in obs.get.items()}


def _cache(df: DataFrame, *exprs) -> tuple[DataFrame, float, dict]:
    df = df.persist()
    s, obs = _force(df, *exprs)
    return df, s, obs


def _seen_key(df: DataFrame) -> DataFrame:
    return df.withColumn("_bloom_key", F.concat_ws("", "task_id", "canon_url"))


def replay(spark, cfg, store: DataFrame, policy: DataFrame | None,
           ckpt: str) -> list[dict]:
    """One row per committed round: each operator's seconds and rows."""
    storage = SnapshotStore(ckpt)
    committed = storage.committed_rounds()
    # the engine's fetch-join store shape (CrawlEngine.__init__)
    store = store.select(
        F.col("doc_id").alias("canon_url"), "status_code", "fail_times",
        "response_time_ms", "html",
    ).repartition(cfg.shuffle_partitions, "canon_url")
    deferral = cfg.budget_rounds is not None
    seen_total = 0
    out = []
    for entry in committed:
        rnd, counters = entry["round"], entry["counters"]
        row = {"round": rnd, "frontier": counters["frontier"]}
        cached: list[DataFrame] = []

        # ---- politeness: rank the round's frontier snapshot
        frontier = storage.read_table_bucketed(
            spark, "frontier", rnd, cfg.shuffle_partitions, ["host", "_salt"],
            ["host", "depth", "_salt", "discovery_seq"])
        prev = storage.round_meta(rnd - 1) if rnd else None
        epoch = (cfg.round_epoch + rnd * cfg.budget_rounds * cfg.rate_limit_window_s
                 if deferral else
                 (prev or {}).get("counters", {}).get("vclock_next", cfg.round_epoch))
        admitted, deferred = schedule_round(
            frontier, policy, default_limit=cfg.default_rate_limit,
            default_window_s=cfg.rate_limit_window_s, round_epoch=epoch,
            budget_rounds=cfg.budget_rounds, priority_col="depth",
            shuffle_partitions=cfg.shuffle_partitions, rank_strategy="presalted",
        )
        admitted, row["rank_s"], obs = _cache(admitted.drop("_salt"))
        cached.append(admitted)
        row["admitted"] = obs["rows"]
        row["deferred"] = 0
        if deferral:
            s, obs = _force(deferred)
            row["rank_s"] += s
            row["deferred"] = obs["rows"]

        # ---- fetch join + extraction (Arrow UDF)
        fetched = resolve_fetch_outcome(
            admitted.repartition(cfg.shuffle_partitions, "canon_url")
            .join(store, "canon_url", "left"), cfg)
        row["extract_s"], obs = _force(
            extract_pages(fetched, cfg),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("html_bytes"))
        row["pages"], row["html_bytes_in"] = obs["rows"], obs["html_bytes"]

        # ---- link expansion + internal/robots filters
        expands = cfg.follow_links and (
            deferral or cfg.max_depth == 0 or counters["depth"] < cfg.max_depth)
        if expands:
            pages = storage.read_table(spark, "pages", rnd)
            success = pages.filter(~F.col("is_error"))
            if deferral and cfg.max_depth > 0:
                success = success.filter(F.col("depth") < cfg.max_depth)
            exp_obs = Observation()
            cand = filter_internal(
                expand_links(success).observe(exp_obs, F.count(F.lit(1)).alias("n")),
                cfg)
            if cfg.respect_robots:
                cand = filter_robots(cand, policy)
            cand, row["links_s"], obs = _cache(cand.drop("host", "path"))
            cached.append(cand)
            row["link_candidates"] = int(exp_obs.get["n"] or 0)
            row["links_kept"] = obs["rows"]

            # ---- canonicalization (native fast path + Python fallback)
            canon, row["canon_s"], obs = _cache(
                canonicalize_frame(cand, "url", "canon_url",
                                   cfg.sort_query_params, single_scan=True),
                F.sum((~native_canon_eligible(F.col("url"))).cast("long"))
                .alias("fallback"))
            cached.append(canon)
            row["canon_fallback_rows"] = obs["fallback"]

            # ---- first-occurrence dedup
            unique, row["first_occurrence_s"], obs = _cache(first_occurrence(
                canon, KEYS, ["parent_seq", "link_pos"], keep_hash=True))
            cached.append(unique)
            row["dedup_in"], row["dedup_unique"] = row["links_kept"], obs["rows"]

        # the engine appends this round's arrivals to seen before the
        # anti-join, and counts the frontier towards the seen total
        seen_total += counters["frontier"]
        if expands:
            seen = spark.read.parquet(*[
                storage.table_path("seen", e["round"])
                for e in committed if e["round"] <= rnd])
            large = seen_total > cfg.large_seen_threshold
            bloom = None
            row["bloom_maybe_seen"] = 0
            if large:
                # the round's filter state: every seen key up to this round
                bloom = ShardedBloomFilter(spark, cfg.bloom_num_bits,
                                           cfg.bloom_num_hashes,
                                           n_shards=cfg.bloom_shards)
                bloom.fit(_seen_key(seen), "_bloom_key")
                _, obs = _force(bloom.annotate(_seen_key(unique), "_bloom_key"),
                                F.sum(F.col("_maybe_seen").cast("long")).alias("maybe"))
                row["bloom_maybe_seen"] = obs["maybe"]
            row["antijoin_s"], obs = _force(anti_join_seen(
                _seen_key(unique), seen, KEYS, bloom=bloom, bloom_key="_bloom_key",
                shuffle_hash=large, hash_key=True))
            row["survivors"] = obs["rows"]
            if bloom is not None:
                bloom.words.unpersist()
        for df in cached:
            df.unpersist()
        out.append(row)
    return out


def totals(rows: list[dict]) -> dict[str, float]:
    """Per-layer metrics over all replayed rounds."""
    def s(k):
        return sum(r.get(k, 0) for r in rows)

    def ratio(a, b):
        return a / b if b else 0.0

    seen_dups = s("dedup_unique") - s("survivors")
    false_pos = s("bloom_maybe_seen") - seen_dups if s("bloom_maybe_seen") else 0
    return {
        "politeness.rows_in": s("frontier"),
        "politeness.admitted": s("admitted"),
        "politeness.deferred": s("deferred"),
        "politeness.admit_ratio": ratio(s("admitted"), s("frontier")),
        "politeness.rank_s": s("rank_s"),
        "extract.pages": s("pages"),
        "extract.html_bytes_in": s("html_bytes_in"),
        "extract.s": s("extract_s"),
        "links.candidates": s("link_candidates"),
        "links.kept_ratio": ratio(s("links_kept"), s("link_candidates")),
        "links.s": s("links_s"),
        "urls.fallback_rows": s("canon_fallback_rows"),
        "urls.canon_s": s("canon_s"),
        "dedup.candidates_in": s("dedup_in"),
        "dedup.survivors": s("survivors"),
        "dedup.useful_ratio": ratio(s("survivors"), s("dedup_in")),
        "dedup.first_occurrence_s": s("first_occurrence_s"),
        "dedup.bloom_maybe_seen": s("bloom_maybe_seen"),
        # the filter has no false negatives: every already-seen unique
        # candidate is maybe-seen, the rest of the maybe-seen are false
        # positives among the candidates that were really new
        "dedup.bloom_false_positive_ratio": ratio(false_pos, s("survivors")),
        "dedup.antijoin_s": s("antijoin_s"),
    }

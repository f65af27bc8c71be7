"""The round-based BSP crawl engine (SURVEY §3.1 "Spark lifecycle").

Each reference BFS depth level (/root/reference/app/services/crawler.py:
103-162) becomes one Spark round:

    frontier_r --(RL1 politeness rank: virtual fetch times)-->
      --(S1 fetch join vs content store)--> --(R1/R2 outcome columns)-->
      --(X1-X8 mapInPandas extraction)--> pages_r  [snapshot]
    pages_r --(J1 posexplode links)--(F1 internal filter)--(robots)-->
      --(P1 canonicalize, pandas UDF)--(D2 first-occurrence)-->
      --(D1 anti-join vs url_seen, bloom-prefiltered past a size)-->
      --(O1 dense discovery_seq)--> frontier_{r+1}  [snapshot]

Level-synchronized BFS is order-equivalent to the reference's serial FIFO
deque because (a) a FIFO queue seeded at depth 0 pops strictly level by
level, (b) the reference's enqueue-time dedup keeps the FIRST discovered
raw variant, which is exactly ``min_(parent_seq, link_pos)`` — our D2 —
and (c) every depth-r frontier entry is fetched before any depth-(r+1)
entry, so the reference's "pending queue" anti-join (crawler.py:145)
collapses into the end-of-round url_seen anti-join. The politeness
limiter never reorders (it only sleeps — rate_limiter.py:139-150), so it
contributes virtual fetch *times*, not order.

All state (frontier, url_seen, pages) lives in per-round parquet
snapshots (sources/storage.py), giving checkpoint/resume with identical
ordering and O(1) plans per round. url_seen is append-only: round k
writes only the canon URLs first seen in round k; the full set is the
union of snapshots — at 10^10 scale this is one immutable partition per
round instead of a rewrite of the world.

Fresh and resumed crawls run the same loop. A fresh crawl resets the
store and writes the round-0 frontier; then both read the carried round
state from the last committed round's manifest counters (defaults when
none is committed): ``seq_base``, ``vclock_next`` and the next frontier's
size and seq range (``next_frontier`` / ``next_seq_min`` /
``next_seq_max``, observed on the frontier write), plus a seen total
summed from the committed ``frontier`` counters. Those counters are the
only state a round reads back; no round re-scans a frontier or the seen
union to derive it. A round whose next frontier is observed empty ends
the crawl at its commit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.functions.classify import resolve_fetch_outcome
from crawler_service_spark.functions.urls import (
    canonicalize_frame,
    host_frame,
    make_canon_udf,
    url_parts_udf,
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
from crawler_service_spark.operators.politeness import presalt, schedule_round
from crawler_service_spark.operators.sequence import assign_dense_seq
from crawler_service_spark.sources.storage import SnapshotStore

FRONTIER_COLS = [
    "task_id", "seed_netloc", "url", "canon_url", "host", "depth", "discovery_seq",
]
# counters of the last committed round that the next round reads back
_CARRIED_COUNTERS = (
    "seq_base", "vclock_next", "next_frontier", "next_seq_min", "next_seq_max",
)
# next_* counters of a round that wrote no frontier: the crawl is over
_NO_FRONTIER = {"next_frontier": 0, "next_seq_min": None, "next_seq_max": None}


@dataclass
class CrawlTables:
    pages: DataFrame          # all rounds, unordered; order key = (task_id, depth, discovery_seq)
    seen: DataFrame           # (task_id, canon_url)
    round_counters: list[dict]


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        store: DataFrame,
        checkpoint_dir: str,
        policy: DataFrame | None = None,
        max_rounds: int = 200,
    ):
        self.spark = spark
        self.cfg = cfg
        self.policy = policy
        # let bucketed scans expose their per-bucket sort order (the
        # engine writes exactly one file per bucket, the shape Spark
        # requires to honor it) — without this the politeness rank
        # re-sorts data the snapshot layout already sorted.
        # SESSION-LEVEL side effect, deliberately not restored: the
        # flag must be live at PLANNING time of every downstream query
        # that scans a frontier snapshot (not just inside
        # _read_frontier), and it is harmless-but-nonfree for
        # unrelated bucketed scans sharing the session (planning-time
        # file listing). Engines in this repo run in their own
        # sessions; callers embedding CrawlEngine in a shared session
        # with other bucketed workloads should be aware (ADVICE r02).
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        self.storage = SnapshotStore(checkpoint_dir)
        self.max_rounds = max_rounds
        self.canon = make_canon_udf(cfg.sort_query_params)
        # content store projected to fetch-join shape, keyed by canon URL
        # and pre-partitioned on the join key: every round's fetch join
        # then shuffles only the (small) admitted batch, never the
        # html-bearing store rows (measured 3× on the fetch join; the
        # cluster analog is a bucketed store table)
        self.store = store.select(
            F.col("doc_id").alias("canon_url"),
            "status_code",
            "fail_times",
            "response_time_ms",
            "html",
        ).repartition(cfg.shuffle_partitions, "canon_url")

    # ------------------------------------------------------------------ util
    def _seen_key(self):
        return F.concat_ws("", F.col("task_id"), F.col("canon_url"))

    def _read_seen(self, rounds: list[int]) -> DataFrame | None:
        if not rounds:
            return None
        paths = [self.storage.table_path("seen", r) for r in rounds]
        return self.spark.read.parquet(*paths)

    # -------------------------------------------------------------- frontier
    def _initial_frontier(self, seeds: DataFrame) -> DataFrame:
        n_seeds = seeds.count()
        f = (
            canonicalize_frame(
                seeds.withColumn("_parts", url_parts_udf(F.col("url"))),
                "url", "canon_url", self.cfg.sort_query_params,
                single_scan=True,  # upstream UDF lineage must run once
            )
            .select(
                "task_id",
                F.col("_parts.netloc").alias("seed_netloc"),
                "url",
                "canon_url",
                F.col("_parts.host").alias("host"),
                F.lit(0).alias("depth"),
                "seed_seq",
            )
        )
        f = assign_dense_seq(
            f, "seed_seq", "seed_seq", n_seeds, self.cfg.seq_buckets
        ).drop("seed_seq")
        return f.select(FRONTIER_COLS)

    # ------------------------------------------------------ frontier layout
    # Every frontier snapshot is hash-clustered on (host, _salt) and
    # in-bucket-sorted depth-major: this matches rank_presalted's window
    # (partitionBy host, depth, _salt / orderBy discovery_seq), so the
    # next round's rank plans with no payload exchange and no sort —
    # also when deferral mixes depths within a host.
    _FRONTIER_SORT = ["host", "depth", "_salt", "discovery_seq"]

    def _write_frontier(self, df: DataFrame, rnd: int) -> dict:
        """Write frontier ``rnd`` and return its size and seq min/max,
        observed during the write (no extra scan) — the next round's
        ``next_*`` counters."""
        return self.storage.write_table_bucketed(
            presalt(df, self.cfg.frontier_salt_width), "frontier", rnd,
            self.cfg.shuffle_partitions, ["host", "_salt"],
            self._FRONTIER_SORT,
            metrics=[
                F.count(F.lit(1)).alias("next_frontier"),
                F.min("discovery_seq").alias("next_seq_min"),
                F.max("discovery_seq").alias("next_seq_max"),
            ],
        )

    def _read_frontier(self, rnd: int) -> DataFrame:
        return self.storage.read_table_bucketed(
            self.spark, "frontier", rnd,
            self.cfg.shuffle_partitions, ["host", "_salt"],
            self._FRONTIER_SORT,
        )

    def _carried_state(self) -> dict:
        """Everything a round reads back: the last committed round's
        counters, or defaults when no round is committed. ``seen_total``
        is the running sum of the committed ``frontier`` counters — the
        same value an uninterrupted crawl carries, so a resumed crawl
        picks the same seen anti-join/bloom regime."""
        committed = self.storage.committed_rounds()
        if not committed:
            return {"round": 0, "seen_rounds": [], "seen_total": 0,
                    "seq_base": 0, "vclock_next": self.cfg.round_epoch,
                    **_NO_FRONTIER}
        last = committed[-1]
        for key in _CARRIED_COUNTERS:
            if key not in last["counters"]:
                raise ValueError(
                    f"cannot resume: round {last['round']}'s counters lack "
                    f"{key!r} (checkpoint written by an older engine)")
        return {
            "round": last["round"] + 1,
            "seen_rounds": [e["round"] for e in committed],
            "seen_total": sum(e["counters"]["frontier"] for e in committed),
            **{key: last["counters"][key] for key in _CARRIED_COUNTERS},
        }

    # ----------------------------------------------------------------- crawl
    def crawl(self, seeds: DataFrame | None = None, resume: bool = False) -> CrawlTables:
        cfg = self.cfg
        counters: list[dict] = []
        # DataFrame-resident seen prefilter: the driver holds a handle,
        # never bitmap bytes; it engages past large_seen_threshold
        bloom = ShardedBloomFilter(
            self.spark, cfg.bloom_num_bits, cfg.bloom_num_hashes,
            n_shards=cfg.bloom_shards,
        )

        if resume:
            state = self._carried_state()
            if not state["seen_rounds"]:
                raise ValueError("nothing to resume from")
        else:
            if seeds is None:
                raise ValueError("seeds required when not resuming")
            # a FRESH crawl must not inherit a prior crawl's rounds from
            # the same checkpoint dir: commit_round only replaces
            # same-round entries, so stale later rounds would survive an
            # early kill and a subsequent resume would silently merge
            # the two crawls' seen sets and pages
            self.storage.reset()
            state = self._carried_state()
            state.update(self._write_frontier(self._initial_frontier(seeds), 0))
        rnd = state["round"]
        seen_rounds = state["seen_rounds"]
        # running count of the seen union, used only to pick the seen
        # anti-join's physical strategy (broadcast vs hash-build)
        seen_total = state["seen_total"]
        # total discovery_seq values handed out before the PREVIOUS round's
        # expansion — frontier rows with seq >= prev_base are this round's
        # new arrivals (the whole frontier in non-deferral mode)
        prev_base = state["seq_base"]
        vclock = float(state["vclock_next"])
        # size and seq range of the frontier this round fetches
        nxt = {k: state[k] for k in _NO_FRONTIER}

        deferral = cfg.budget_rounds is not None
        # R-disabled mirror of the reference's `rate_limiting_enabled`
        # flag (can_make_request always True): limits become unbounded —
        # no politeness windows, no deferral caps — while robots rules
        # (disallow prefixes, crawl delay) still apply, they are not the
        # rate limiter's. Custom per-host limits are nulled so the
        # coalesce falls through to the unbounded default.
        if cfg.rate_limiting_enabled:
            eff_default_limit = cfg.default_rate_limit
            eff_policy = self.policy
        else:
            eff_default_limit = 1 << 31
            eff_policy = (
                self.policy.withColumn(
                    "rate_limit", F.lit(None).cast("int"))
                if self.policy is not None else None
            )
        # cross-round virtual-clock advance gap: the next round's epoch
        # must clear every host's last politeness window AND crawl-delay
        # spacing, so the gap is the largest window/delay any host can
        # have (policy is a tiny dimension — one-time driver lookup)
        vgap = float(cfg.rate_limit_window_s)
        if self.policy is not None:
            row = self.policy.agg(
                F.max("window_s").alias("w"),
                F.max("crawl_delay_s").alias("d"),
            ).collect()[0]
            vgap = max(vgap, float(row["w"] or 0), float(row["d"] or 0))

        # an observed-empty next frontier ends the crawl at the commit of
        # the round that wrote it
        while rnd < self.max_rounds and nxt["next_frontier"] > 0:
            frontier = self._read_frontier(rnd)
            n_frontier = nxt["next_frontier"]
            # next fresh discovery_seq — MONOTONE across rounds: when a
            # round's expansion yields no survivors while a deferred
            # backlog remains, the frontier max regresses below already-
            # issued seqs, and re-deriving the base from it alone would
            # reissue seqs carried by pages fetched earlier (duplicate
            # (depth, seq) order keys). prev_base is the running
            # high-water mark, persisted per round for resume.
            seq_base = max(nxt["next_seq_max"] + 1, prev_base)
            seq_min = nxt["next_seq_min"]
            depth_of_round = rnd  # == frontier depth in non-deferral mode

            # each round consumes budget_rounds politeness windows per
            # (full) host in deferral mode; in non-deferral mode a round
            # fetches the whole frontier across however many virtual
            # windows it needs, so the clock resumes past the previous
            # round's observed maximum (max_vft + vgap, observed on the
            # pages write below) — per-host politeness windows stay
            # disjoint ACROSS rounds, not just within one
            epoch = (
                cfg.round_epoch
                + rnd * cfg.budget_rounds * cfg.rate_limit_window_s
                if deferral else vclock
            )
            admitted, deferred = schedule_round(
                frontier,
                eff_policy,
                default_limit=eff_default_limit,
                default_window_s=cfg.rate_limit_window_s,
                round_epoch=epoch,
                budget_rounds=cfg.budget_rounds,
                priority_col="depth",
                shuffle_partitions=cfg.shuffle_partitions,
                # over the bucket-sorted frontier snapshot the rank plans
                # with no payload exchange/sort/driver barrier; its
                # bucket counts come from that same scan — a plain
                # column-pruned re-read of the files measured slower end
                # to end at 4 and 16 cores (BENCH/BASELINE.md, shape
                # decision 5)
                rank_strategy="presalted",
            )
            admitted = admitted.drop("_salt")

            # pre-align the (html-free) admitted side with the store's
            # hash partitioning: the join output inherits
            # `shuffle_partitions` uniform hash partitions (canon_url
            # hashes uniformly) and the Arrow extraction fuses into the
            # join stage — a post-join repartition would push every
            # html-bearing row through a second full exchange (measured
            # 9-13% of the fetch+extract phase, BENCH/BASELINE.md shape
            # decision 3).
            # The explicit partition count also pins the stage against AQE
            # byte-based coalescing: extraction cost is per ROW (Python
            # parse per page) — byte-coalescing once shrank this stage to
            # ~5 tasks and capped the whole round at ~5 cores.
            fetched = admitted.repartition(
                cfg.shuffle_partitions, F.col("canon_url")
            ).join(self.store, "canon_url", "left")
            fetched = resolve_fetch_outcome(fetched, cfg)
            pages = extract_pages(fetched, cfg).withColumn("round", F.lit(rnd))
            pages = pages.drop("html", "status_code", "fail_times")

            # observed metrics ride the snapshot write — no extra scan
            # (the Spark Observation API evaluates during the action)
            obs = Observation(f"round_{rnd}")
            pages = pages.observe(
                obs,
                F.count(F.lit(1)).alias("n_pages"),
                F.sum(F.col("is_error").cast("long")).alias("n_errors"),
                F.sum("retry_attempts").alias("total_retries"),
                F.approx_count_distinct("host").alias("approx_hosts"),
                # feeds the cross-round virtual clock — rides the write,
                # no extra scan
                F.max("virtual_fetch_time").alias("max_vft"),
            )
            self.storage.write_table(pages, "pages", rnd)
            obs_vals = dict(obs.get)
            vclock = float(obs_vals.pop("max_vft") or 0.0) + vgap
            observed = {k: int(v or 0) for k, v in obs_vals.items()}
            pages = self.storage.read_table(self.spark, "pages", rnd)

            # enqueue-time seen semantics (visited ∪ pending): every URL
            # that ever ENTERS the frontier is seen. Under deferral the
            # frontier carries rows already recorded in earlier rounds, so
            # only new arrivals (seq >= prev_base) are appended — keeping
            # the seen union duplicate-free. Non-deferral: the whole
            # frontier is new arrivals and the filter passes everything.
            new_seen = frontier.filter(
                F.col("discovery_seq") >= prev_base
            ).select("task_id", "canon_url")
            self.storage.write_table(new_seen, "seen", rnd)
            seen_rounds.append(rnd)
            # n_frontier bounds the new-seen rows this round (equality in
            # non-deferral mode; a harmless overcount under deferral)
            seen_total += n_frontier
            # the prefilter engages only once the seen set is too big for
            # a free broadcast-anti plan (below that it costs more than
            # the join it saves — r02 VERDICT item 3). First crossing
            # catches up over the full seen union; later rounds fold in
            # only the round delta.
            if seen_total > cfg.large_seen_threshold:
                if not bloom.fitted:
                    bloom.fit(
                        self._read_seen(seen_rounds)
                        .select(self._seen_key().alias("k")),
                        "k",
                    )
                else:
                    bloom.update(
                        self.storage.read_table(self.spark, "seen", rnd)
                        .select(self._seen_key().alias("k")),
                        "k",
                    )
            seen = self._read_seen(seen_rounds)

            if deferral:
                # per-ROW depth gate: the frontier mixes depths once rows
                # defer, so expandability is a property of the page, not
                # of the round (oracle: parent depth < max_depth)
                expand = cfg.follow_links
            else:
                expand = cfg.follow_links and (
                    cfg.max_depth == 0 or depth_of_round < cfg.max_depth
                )
            # deferred rows carry over; surviving candidates join them
            next_frontier = deferred.select(FRONTIER_COLS) if deferral else None
            if expand:
                success = pages.filter(~F.col("is_error"))
                if deferral and cfg.max_depth > 0:
                    success = success.filter(F.col("depth") < cfg.max_depth)
                cand = expand_links(success)
                cand = filter_internal(cand, cfg)
                if cfg.respect_robots:
                    cand = filter_robots(cand, self.policy)
                # host and path are pure functions of the URL: drop them
                # before the dedup + anti-join + dense-seq exchanges
                # (host is recomputed below by `host_frame`, byte-equal
                # to the filter's value) so the round's biggest shuffles
                # move ~40B/row less — the schedule-core A/B measured
                # post-dedup host extraction worth ~9% at 16 cores
                # (BENCH/BASELINE.md, shape decision 4)
                cand = cand.drop("host", "path")
                # single-scan strategy: cand is computed lineage
                # (explode→filter); the union strategy would re-execute
                # it once per branch
                cand = canonicalize_frame(
                    cand, "url", "canon_url", cfg.sort_query_params,
                    single_scan=True,
                )
                # keep_hash/hash_key: dedup groups and the anti-join join
                # on (xxhash64(key), key…) — the random-long sort prefix
                # resolves SortAggregate comparisons that full-compare on
                # the shared "https://…" prefix otherwise, and the
                # anti-join reuses the aggregate's exchange
                cand = first_occurrence(
                    cand, ["task_id", "canon_url"], ["parent_seq", "link_pos"],
                    keep_hash=True,
                )
                cand = anti_join_seen(
                    cand.withColumn("_bloom_key", self._seen_key()),
                    seen,
                    ["task_id", "canon_url"],
                    bloom=bloom,
                    bloom_key="_bloom_key",
                    # hash-build the seen side once it is too big to
                    # broadcast anyway (count known from round counters —
                    # no extra job); below that, leave the planner its
                    # broadcast-anti plan
                    shuffle_hash=seen_total > cfg.large_seen_threshold,
                    hash_key=True,
                ).drop("_bloom_key")
                # discovery_seq is GLOBAL: per-round dense rank over
                # (parent_seq, link_pos) shifted by seq_base, so ordering
                # and first-occurrence stay well-defined when deferred
                # rows from earlier rounds share the frontier
                # base=seq_min: parents span [seq_min, seq_base), so
                # bucketing over the cumulative [0, seq_base) range
                # would collapse late rounds' candidates into 1-2
                # buckets and serialize the dense-seq window (the
                # two-level scheme's whole point is that no executor
                # sees more than one bucket)
                cand = assign_dense_seq(
                    cand, "parent_seq", "link_pos", seq_base,
                    cfg.seq_buckets, base=seq_min,
                ).withColumn(
                    "discovery_seq", F.col("discovery_seq") + F.lit(seq_base)
                )
                # recompute host only for rows that survived dedup +
                # seen filtering (deferred rows kept theirs)
                cand = host_frame(cand, "url")
                cand = cand.select(FRONTIER_COLS)
                next_frontier = (cand if next_frontier is None
                                 else cand.unionByName(next_frontier))
            nxt = (self._write_frontier(next_frontier, rnd + 1)
                   if next_frontier is not None else dict(_NO_FRONTIER))

            round_counters = {
                "frontier": n_frontier,
                "depth": depth_of_round,
                # the state the next round reads back (_carried_state):
                # the seq high-water mark, the virtual clock and the
                # next frontier's size and seq range
                "seq_base": seq_base,
                "vclock_next": vclock,
                **nxt,
                **observed,
            }
            self.storage.commit_round(
                rnd,
                ["pages", "seen"]
                + (["frontier"] if next_frontier is not None else []),
                round_counters,
            )
            counters.append({"round": rnd, **round_counters})
            prev_base = seq_base
            rnd += 1

        latest = self.storage.latest_round()
        if latest is None:
            # no round ever committed (the seed frontier was empty after
            # canonicalization): fail loudly instead of returning
            # CrawlTables(pages=None, ...) that crashes every consumer
            raise ValueError(
                "crawl fetched no pages: the seed frontier was empty")
        all_pages = self.storage.pages_glob(self.spark, latest)
        seen = self._read_seen(seen_rounds)
        return CrawlTables(pages=all_pages, seen=seen, round_counters=counters)


def fetch_order(pages: DataFrame) -> DataFrame:
    """Per-task fetch sequence: rank over (round, depth, discovery_seq).

    Without deferral round == depth, so this is the round-1 (depth, seq)
    order; with ``budget_rounds`` a twice-deferred row is fetched in a
    later round than a deeper-but-undeferred row, and the round column
    carries that.

    Used for the equality contract and small exports. NOTE: this window
    partitions by task — fine for per-task ordered output; the engine's
    hot loop never needs it (it uses the two-level dense seq instead).
    """
    w = Window.partitionBy("task_id").orderBy("round", "depth", "discovery_seq")
    return pages.withColumn("fetch_seq", F.row_number().over(w).cast("long") - 1)


def retry_stats(pages: DataFrame) -> dict:
    """A3 (SURVEY §2): the reference's five global retry counters
    (crawler.py:49-55) from per-row outcome columns."""
    attempts = F.col("retry_attempts")
    is_err = F.col("is_error")
    transient_err = F.col("error.error_type") == "transient"
    row = pages.agg(
        F.sum(attempts).alias("total_retries"),
        F.sum(((~is_err) & (attempts > 0)).cast("long")).alias("successful_retries"),
        F.sum((is_err & transient_err).cast("long")).alias("failed_retries"),
        F.sum(
            F.when(is_err & transient_err, attempts + 1)
            .when((~is_err) & (attempts > 0), attempts)
            .otherwise(F.lit(0))
        ).alias("transient_errors"),
        F.sum((is_err & ~transient_err).cast("long")).alias("permanent_errors"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in row.asDict()}

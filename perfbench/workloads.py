"""Benchmark workloads: seeded inputs, the crawl legs, and the oracle gate.

A workload fixes the corpus shape (docs, hosts, seeds), the ``CrawlConfig``
and how the crawl is split into legs; ``--seed`` only draws the page-body
word lists (the ``texts`` argument of ``doc_record``), so every seed crawls
the same link graph with different page content and the crawl's size —
rounds, pages, frontier rows — is the same for every seed.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import CrawlEngine, CrawlTables, fetch_order
from crawler_service_spark.oracle import simulate_crawl_rounds, simulate_many
from crawler_service_spark.sources.corpus import (
    build_policy_df,
    build_seeds_df,
    build_store_df,
    build_store_pandas,
)
from crawler_service_spark.sources.storage import SnapshotStore

# shuffle partitions sized to the data: a round moves a few hundred
# frontier rows and a few thousand link candidates
SHUFFLE_PARTITIONS = 1
# page bodies of a few KB, so extraction parses real text
WORDS_PER_TEXT = 400


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_hosts: int
    n_seeds: int
    cfg: CrawlConfig
    # engine ``max_rounds`` per leg: leg 0 is a fresh crawl, every later
    # leg a fresh ``CrawlEngine(...).crawl(resume=True)`` on the same dir
    legs: tuple[int, ...]
    policy: bool            # pass the corpus host policy (limits, robots)

    def warm_up(self) -> "Workload":
        """The same crawl with every leg capped at 1 round: it compiles
        the fresh and the resumed round shapes and forks the Python
        workers for a third to a half of a crawl's wall."""
        return replace(self, legs=tuple(min(m, 1) for m in self.legs))


def _cfg(**kw) -> CrawlConfig:
    return CrawlConfig(follow_links=True, shuffle_partitions=SHUFFLE_PARTITIONS,
                       seq_buckets=SHUFFLE_PARTITIONS, **kw)


WORKLOADS = {
    # the reference service's own traffic: one request, 58 pages over 3
    # BFS rounds with robots and custom host limits; stopped after round
    # 0 and finished by a resume
    "crawl_ref": Workload(
        "crawl_ref", n_docs=2000, n_hosts=16, n_seeds=8,
        cfg=_cfg(max_depth=2), legs=(1, 200), policy=True,
    ),
    # 3 fetches per host per round: politeness defers a growing backlog
    # from round 1 on, and the sharded bloom + shuffle-hash anti-join run
    # from round 0 (large_seen_threshold=0); one uninterrupted leg of 3
    # rounds, 187 pages
    "crawl_deferral": Workload(
        "crawl_deferral", n_docs=1200, n_hosts=32, n_seeds=32,
        cfg=_cfg(max_depth=0, budget_rounds=1, default_rate_limit=3,
                 large_seen_threshold=0),
        legs=(3,), policy=False,
    ),
}


def seeded_texts(seed: int) -> list[str]:
    """Page bodies from a seeded word list. Lowercase words joined by
    single spaces survive the HTML round trip verbatim, so the oracle's
    span texts equal the engine's."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = ["".join(rng.choice(letters) for _ in range(rng.randint(2, 10)))
             for _ in range(4096)]
    return [" ".join(rng.choice(words) for _ in range(WORDS_PER_TEXT))
            for _ in range(64)]


@dataclass
class Inputs:
    texts: list[str]
    store: DataFrame    # cached content store
    seeds: DataFrame
    policy: DataFrame | None


def build_inputs(spark: SparkSession, w: Workload, seed: int) -> Inputs:
    texts = seeded_texts(seed)
    store = build_store_df(spark, w.n_docs, w.n_hosts, texts).cache()
    store.count()
    return Inputs(
        texts=texts,
        store=store,
        seeds=build_seeds_df(spark, w.n_docs, w.n_hosts, w.n_seeds),
        policy=build_policy_df(spark, w.n_hosts) if w.policy else None,
    )


@dataclass
class CrawlRun:
    tables: CrawlTables
    legs_s: list[float]        # per leg: CrawlEngine(...) → last commit


def run_crawl(spark: SparkSession, w: Workload, inputs: Inputs, ckpt: str,
              clock) -> CrawlRun:
    """Run every leg of ``w``; ``clock`` (spans.Tracer) records commits."""
    legs_s = []
    tables = None
    for k, max_rounds in enumerate(w.legs):
        mark = len(clock.commits)
        t0 = time.perf_counter()
        engine = CrawlEngine(spark, w.cfg, inputs.store, checkpoint_dir=ckpt,
                             policy=inputs.policy, max_rounds=max_rounds)
        tables = engine.crawl(inputs.seeds) if k == 0 else engine.crawl(resume=True)
        end = clock.commits[-1] if len(clock.commits) > mark else time.perf_counter()
        legs_s.append(end - t0)
    return CrawlRun(tables, legs_s)


def reopen_s(spark: SparkSession, w: Workload, inputs: Inputs, ckpt: str) -> float:
    """``crawl(resume=True)`` on a checkpoint whose last leg already ran to
    its ``max_rounds``: the resume path's fixed cost (manifest, frontier
    registration, seen count) with no round left to run."""
    t0 = time.perf_counter()
    CrawlEngine(spark, w.cfg, inputs.store, checkpoint_dir=ckpt,
                policy=inputs.policy, max_rounds=w.legs[-1]).crawl(resume=True)
    return time.perf_counter() - t0


# ---------------------------------------------------------------- oracle gate
_ORDER_COLS = ["fetch_seq", "depth", "url", "canon_url", "effective_status",
               "retry_attempts", "is_error"]


def _span_tuples(spans) -> tuple:
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in (spans or []))


@dataclass
class Expected:
    order: dict[str, list[tuple]]   # task → fetch-ordered page tuples
    seen: set[tuple[str, str]]


def expected(spark: SparkSession, w: Workload, inputs: Inputs) -> Expected:
    """Serial-oracle replay of the same seeded inputs."""
    pdf = build_store_pandas(w.n_docs, w.n_hosts, inputs.texts)
    store = {
        r.doc_id: {"status_code": int(r.status_code),
                   "fail_times": int(r.fail_times), "html": r.html}
        for r in pdf.itertuples()
    }
    pol_rows = inputs.policy.collect() if inputs.policy is not None else []
    robots = {r["host"]: {"disallow_prefixes": list(r["disallow_prefixes"])}
              for r in pol_rows} or None
    seeds = [(r["task_id"], r["url"])
             for r in inputs.seeds.orderBy("seed_seq").collect()]
    if w.cfg.budget_rounds is None:
        results = simulate_many(store, seeds, w.cfg, policy=robots)
    else:
        # per-task replay is exact here: every task crawls its own host,
        # so the engine's per-host budget is the task's budget
        limits = {r["host"]: int(r["rate_limit"]) for r in pol_rows} or None
        results = [
            simulate_crawl_rounds(store, url, w.cfg, task_id=tid, policy=robots,
                                  limits=limits, max_rounds=w.legs[-1])
            for tid, url in seeds
        ]
    order = {}
    for res in results:
        for p in res.order:
            order.setdefault(p.task_id, []).append(
                (p.fetch_seq, p.depth, p.url, p.canon_url, p.status,
                 p.retry_attempts, p.is_error, _span_tuples(p.spans)))
    seen = set().union(*(res.seen for res in results))
    return Expected(order, seen)


def check(spark: SparkSession, run: CrawlRun, want: Expected, ckpt: str) -> str | None:
    """None when crawl order, URL-seen set and every page's span sequence
    equal the oracle's; otherwise the first mismatch."""
    rows = (fetch_order(run.tables.pages)
            .select(*_ORDER_COLS, "task_id", "spans").collect())
    got: dict[str, list[tuple]] = {}
    for r in rows:
        got.setdefault(r["task_id"], []).append(
            tuple(r[c] for c in _ORDER_COLS[:-1]) + (bool(r["is_error"]),
                                                     _span_tuples(r["spans"])))
    for pages in got.values():
        pages.sort()
    if set(got) != set(want.order):
        return f"tasks differ: {sorted(set(got) ^ set(want.order))[:5]}"
    for task, pages in want.order.items():
        if got[task] != pages:
            i = next((i for i, (a, b) in enumerate(zip(got[task], pages)) if a != b),
                     min(len(got[task]), len(pages)))
            return f"{task}: order differs at fetch_seq {i} ({len(got[task])} vs {len(pages)} pages)"
    seen = {(r["task_id"], r["canon_url"]) for r in run.tables.seen.collect()}
    # a crawl capped by max_rounds leaves its last discoveries in the
    # unfetched frontier; the oracle counts them as enqueued (= seen)
    storage = SnapshotStore(ckpt)
    latest = storage.latest_round()
    if "frontier" in storage.round_meta(latest)["tables"]:
        seen |= {(r["task_id"], r["canon_url"]) for r in
                 storage.read_table(spark, "frontier", latest + 1)
                 .select("task_id", "canon_url").collect()}
    if seen != want.seen:
        return f"seen set differs: {len(seen ^ want.seen)} keys"
    return None

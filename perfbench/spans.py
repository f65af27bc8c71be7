"""Spans and Spark job tags around the calls into the engine's layers.

The tracer patches, for the lifetime of a ``with tracer.installed():``
block, the public functions the engine calls at each layer boundary:

* ``CrawlEngine.crawl`` — one ``leg`` span per call;
* ``SnapshotStore.commit_round`` — the ``commit`` phase, and the end of
  the round (round wall = commit to commit; a leg's first round starts at
  the ``crawl`` call);
* ``SnapshotStore.write_table`` / ``write_table_bucketed`` — the
  ``<table>_write`` phase (pages, seen, frontier), with bytes and files
  written;
* ``assign_dense_seq`` (as imported by the engine) — ``sequence``;
* ``ShardedBloomFilter.fit`` / ``update`` — ``bloom_fit`` / ``bloom_update``,
  with the length of the filter's logical plan after the call.

With ``detail=False`` only the commit times are kept: that is the clock
the untraced runs read round walls from. With ``detail=True`` every phase
gets a span and a Spark job tag ``pb|r<round>|<phase>``; jobs outside any
phase carry the round's ``pb|r<round>|engine`` tag, so every job of a
crawl is attributed to a phase or to the engine's own driver time. Spans
stay in memory; once the crawl is over ``round_breakdown`` splits each
round's wall by phase and ``spark_by_phase`` folds the tagged jobs' stage
metrics.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

from crawler_service_spark import engine as engine_mod
from crawler_service_spark.engine import CrawlEngine
from crawler_service_spark.operators.dedup import ShardedBloomFilter
from crawler_service_spark.sources.storage import SnapshotStore

ENGINE = "engine"
PHASES = ("pages_write", "seen_write", "frontier_write", "sequence",
          "bloom_fit", "bloom_update", "commit")
# phases whose jobs are folded into spark.<phase>.*; commit runs no job
SPARK_PHASES = (ENGINE,) + PHASES[:-1]
TAG_PREFIX = "pb|"


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Tracer:
    def __init__(self, spark, detail: bool):
        self.sc = spark.sparkContext
        self.detail = detail
        self.spans: list[dict] = []
        self.commits: list[float] = []
        self.heap_mb: dict[int, float] = {}
        self.self_s = 0.0          # time spent in the tracer's own bookkeeping
        self._round: int | None = None
        self._round_start = 0.0
        self._base_tag: str | None = None
        self._open: list[int] = []  # indices of open phase spans

    # ------------------------------------------------------------ tagging
    def _set_base_tag(self, rnd: int | None) -> None:
        if not self.detail:
            return
        if self._base_tag is not None:
            self.sc.removeJobTag(self._base_tag)
        self._base_tag = None if rnd is None else f"{TAG_PREFIX}r{rnd}|{ENGINE}"
        if self._base_tag is not None:
            self.sc.addJobTag(self._base_tag)

    def _heap_mb(self) -> float:
        rt = self.sc._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    # -------------------------------------------------------------- spans
    def _leg(self, orig, eng, seeds=None, resume=False):
        b0 = time.perf_counter()
        latest = eng.storage.latest_round() if resume else None
        self._round = 0 if latest is None else latest + 1
        self._set_base_tag(self._round)
        start = self._round_start = time.perf_counter()
        self.self_s += start - b0
        try:
            return orig(eng, seeds, resume)
        finally:
            b1 = time.perf_counter()
            self.spans.append({"name": "leg", "start": start, "end": b1,
                               "parent": None, "round": None, "resume": resume})
            self._set_base_tag(None)
            self._round = None
            self.self_s += time.perf_counter() - b1

    def _phase(self, name, orig, after=None):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.detail or self._round is None:
                return orig(*args, **kwargs)
            b0 = time.perf_counter()
            phase = name(args) if callable(name) else name
            tag = f"{TAG_PREFIX}r{self._round}|{phase}"
            self.sc.addJobTag(tag)
            span = {"name": phase, "round": self._round,
                    "parent": self.spans[self._open[-1]]["name"] if self._open else "round"}
            self._open.append(len(self.spans))
            self.spans.append(span)
            span["start"] = time.perf_counter()
            self.self_s += span["start"] - b0
            try:
                return orig(*args, **kwargs)
            finally:
                span["end"] = b1 = time.perf_counter()
                self._open.pop()
                self.sc.removeJobTag(tag)
                if after is not None:
                    after(args, span)
                self.self_s += time.perf_counter() - b1
        return wrapper

    def _commit(self, orig):
        timed = self._phase("commit", orig)

        @functools.wraps(orig)
        def wrapper(store, rnd, tables, counters):
            timed(store, rnd, tables, counters)
            now = time.perf_counter()
            self.commits.append(now)
            if self._round is None:
                return
            self.spans.append({"name": "round", "start": self._round_start,
                               "end": now, "parent": "leg", "round": rnd,
                               "counters": dict(counters)})
            if self.detail:
                self.heap_mb[rnd] = self._heap_mb()
            self._round, self._round_start = rnd + 1, now
            self._set_base_tag(self._round)
            self.self_s += time.perf_counter() - now
        return wrapper

    @contextlib.contextmanager
    def installed(self):
        def written(args, span):
            span["bytes"], span["files"] = dir_usage(args[0].table_path(args[2], args[3]))

        def plan_size(args, span):
            # the filter's word table is persisted and counted after every
            # fit/update; its logical plan length shows whether that cut
            # the lineage
            span["plan_chars"] = len(
                args[0].words._jdf.queryExecution().logical().toString())

        patches = [
            (CrawlEngine, "crawl",
             lambda orig: functools.wraps(orig)(
                 lambda eng, seeds=None, resume=False: self._leg(orig, eng, seeds, resume))),
            (SnapshotStore, "commit_round", self._commit),
            (SnapshotStore, "write_table",
             lambda orig: self._phase(lambda a: f"{a[2]}_write", orig, written)),
            (SnapshotStore, "write_table_bucketed",
             lambda orig: self._phase(lambda a: f"{a[2]}_write", orig, written)),
            (engine_mod, "assign_dense_seq", lambda orig: self._phase("sequence", orig)),
            (ShardedBloomFilter, "fit",
             lambda orig: self._phase("bloom_fit", orig, plan_size)),
            (ShardedBloomFilter, "update",
             lambda orig: self._phase("bloom_update", orig, plan_size)),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        try:
            for obj, attr, make in patches:
                setattr(obj, attr, make(getattr(obj, attr)))
            yield self
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)
            self._set_base_tag(None)

    # ------------------------------------------------------------ folding
    def rounds(self) -> list[dict]:
        return [s for s in self.spans if s["name"] == "round"]

    def round_breakdown(self) -> list[dict]:
        """Per round: wall, each top-level phase's wall, and driver self
        time (wall not covered by any phase span)."""
        out = []
        for r in self.rounds():
            phases = [s for s in self.spans
                      if s.get("round") == r["round"] and s["parent"] == "round"
                      and r["start"] <= s["start"] and s["end"] <= r["end"]]
            walls: dict[str, float] = {}
            covered, cursor = 0.0, r["start"]
            for s in sorted(phases, key=lambda s: s["start"]):
                walls[s["name"]] = walls.get(s["name"], 0.0) + s["end"] - s["start"]
                lo, hi = max(s["start"], cursor), s["end"]
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            wall = r["end"] - r["start"]
            out.append({"round": r["round"], "wall_s": wall, "phase_s": walls,
                        "driver_self_s": wall - covered,
                        "counters": r["counters"]})
        return out

    def spark_by_phase(self) -> tuple[dict, int]:
        """({(round, phase): {jobs, task_s, shuffle_read_bytes,
        shuffle_write_bytes, spill_bytes}}, untagged job count). A stage is
        counted once, for the lowest job id that lists it (later jobs that
        list it skipped it). Untagged jobs are those whose ids fall
        between the first and last tagged job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        stages = store.stageList(None, False, False,
                                 self.sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        metrics: dict[int, list[float]] = {}
        for i in range(stages.length()):
            d = stages.apply(i)
            m = metrics.setdefault(d.stageId(), [0.0] * 4)
            m[0] += d.executorRunTime() / 1000.0
            m[1] += d.shuffleReadBytes()
            m[2] += d.shuffleWriteBytes()
            m[3] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        jobs = store.jobsList(None)
        tagged, untagged = [], []
        for i in range(jobs.length()):
            j = jobs.apply(i)
            tags = [t for t in j.jobTags().mkString("\n").split("\n")
                    if t.startswith(TAG_PREFIX)]
            stage_ids = [int(s) for s in j.stageIds().mkString(",").split(",") if s]
            if tags:
                phase_tags = [t for t in tags if not t.endswith("|" + ENGINE)]
                _, rnd, phase = (phase_tags or tags)[0].split("|")
                tagged.append((j.jobId(), int(rnd[1:]), phase, stage_ids))
            else:
                untagged.append(j.jobId())
        out: dict[tuple[int, str], dict] = {}
        claimed: set[int] = set()
        for _, rnd, phase, stage_ids in sorted(tagged):
            row = out.setdefault((rnd, phase), {
                "jobs": 0, "task_s": 0.0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0})
            row["jobs"] += 1
            for sid in stage_ids:
                if sid in claimed or sid not in metrics:
                    continue
                claimed.add(sid)
                t, sr, sw, sp = metrics[sid]
                row["task_s"] += t
                row["shuffle_read_bytes"] += int(sr)
                row["shuffle_write_bytes"] += int(sw)
                row["spill_bytes"] += int(sp)
        ids = [t[0] for t in tagged]
        n_untagged = (sum(1 for j in untagged if min(ids) < j < max(ids))
                      if ids else 0)
        return out, n_untagged

"""Benchmark ``CrawlEngine.crawl`` end to end (``--trace 0``) or per layer
(``--trace 1``) on one workload.

    python3 perfbench/run.py --workload crawl_ref --seed 1 --seconds 30 --trace 0

Closed loop, one crawl at a time, on ``local[4]``. After set-up (Spark
session, the seeded inputs, one untimed warm-up crawl of the workload)
it runs whole crawls back to back while the next one is predicted to end
within ``--seconds`` of crawl time (always at least one), checks each against
the serial oracle outside the timed region, and prints one JSON line:
the medians over the crawls of every end-to-end metric, or with
``--trace 1`` the per-layer metrics of one traced crawl plus its
operator replay. The traced run also writes its spans to
``.perfbench_work/trace/<workload>-seed<seed>.json`` (render them with
``perfbench/report.py``). Everything it writes stays under
``.perfbench_work/`` in the checkout.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CORES = 4
REOPEN_REPS = 3
HEAP = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(tmp: Path):
    # every scratch file the JVM, Spark and the Python workers write
    # lands inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from pyspark.sql import SparkSession

    from perfbench.workloads import SHUFFLE_PARTITIONS

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", HEAP)
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        # C1 only: a run's JVM lives about a minute, and with C2 on, the
        # CPU time per crawl was still falling three crawls after the
        # warm-up (57 → 40 → 32 s) while C2 compiled on the same 4 cores;
        # with C1 only it is flat from the first crawl after the warm-up.
        # C1 alone gets a smaller code cache, which filled up (disabling
        # the JIT) late in some runs: reserve the tiered default.
        # Serial GC over a fully sized heap: fixed generation sizes, so
        # the peak RSS does not follow G1's adaptive heap sizing.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                f"-XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC -Xms{HEAP}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    for line in Path(f"/proc/{jvm_pid(spark)}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def warm_up(spark, w, inputs, ckpt: str) -> None:
    """One untimed, unchecked crawl on the workload's own inputs (legs
    capped by ``Workload.warm_up``): the first crawl in a JVM compiles
    (JIT, whole-stage codegen) and forks Python workers. A one-round
    warm-up on a tiny corpus left the next crawl 60% over the CPU time
    of later ones."""
    from perfbench.spans import Tracer
    from perfbench.workloads import reopen_s, run_crawl

    warm = w.warm_up()
    clock = Tracer(spark, detail=False)
    with clock.installed():
        run_crawl(spark, warm, inputs, ckpt, clock)
        if len(w.legs) == 1:
            reopen_s(spark, warm, inputs, ckpt)
    shutil.rmtree(ckpt)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(spark, w, inputs, want, ckpt: str, seconds: float):
    """Untraced crawls back to back; (metrics, attempted, failed).

    ``peak_rss_mb`` is read once the first timed crawl is done: the heap's
    old generation is touched page by page as objects get promoted, so the
    high-water mark read at the end of the run would grow with the number
    of crawls, and that number follows the host's speed."""
    from perfbench.spans import Tracer, dir_usage
    from perfbench.workloads import check, reopen_s, run_crawl
    from crawler_service_spark.sources.storage import SnapshotStore

    records, round_walls, attempted, failed, spent, rss = [], [], 0, 0, 0.0, None
    while True:
        attempted += 1
        clock = Tracer(spark, detail=False)
        t0 = time.perf_counter()
        try:
            with clock.installed():
                run = run_crawl(spark, w, inputs, ckpt, clock)
                resume = (run.legs_s[-1] if len(w.legs) > 1 else
                          _median([reopen_s(spark, w, inputs, ckpt)
                                   for _ in range(REOPEN_REPS)]))
            spent += time.perf_counter() - t0
            err = check(spark, run, want, ckpt)
        except Exception:  # a crawl that raises is a failed crawl, not a crash
            traceback.print_exc(file=sys.stderr)
            spent += time.perf_counter() - t0
            err, run = "raised", None
        if rss is None:
            rss = jvm_peak_rss_mb(spark)
        if err is not None:
            failed += 1
            print(f"perfbench: {w.name} crawl {attempted} failed: {err}", file=sys.stderr)
        if run is not None:
            counters = [e["counters"] for e in SnapshotStore(ckpt).committed_rounds()]
            pages = sum(c["n_pages"] for c in counters)
            wall = sum(run.legs_s)
            rounds = [r["end"] - r["start"] for r in clock.rounds()]
            round_walls.append(rounds)
            records.append({
                "ok": err is None,
                "crawl_wall_s": wall,
                "pages_per_s": pages / wall,
                "frontier_urls_per_s": sum(c["frontier"] for c in counters) / wall,
                "resume_wall_s": resume,
                "checkpoint_bytes_per_page": dir_usage(ckpt)[0] / max(pages, 1),
            })
            print(f"perfbench: {w.name} crawl {attempted}: wall {wall:.3f} s, rounds "
                  f"{' '.join(f'{r:.3f}' for r in rounds)} s, resume {resume:.3f} s",
                  file=sys.stderr)
        last = records[-1]["crawl_wall_s"] if records else spent
        if spent + last > seconds:
            break
    ok = [i for i, r in enumerate(records) if r["ok"]] or range(len(records))
    metrics = {k: _median([records[i][k] for i in ok]) for k in
               ("crawl_wall_s", "pages_per_s", "frontier_urls_per_s",
                "resume_wall_s", "checkpoint_bytes_per_page")}
    # round walls pooled over the run's crawls
    metrics["round_wall_p50_s"] = _median([r for i in ok for r in round_walls[i]])
    metrics["round_wall_tail_s"] = _median([r for i in ok for r in round_walls[i][-3:]])
    metrics["crawl_ok_ratio"] = (attempted - failed) / attempted
    metrics["peak_rss_mb"] = rss
    return metrics, attempted, failed


def traced(spark, w, inputs, want, ckpt: str, seed: int):
    """One traced crawl + operator replay; (metrics, attempted, failed)."""
    from perfbench.replay import replay, totals
    from perfbench.report import render
    from perfbench.spans import SPARK_PHASES, Tracer
    from perfbench.workloads import check, run_crawl

    tracer = Tracer(spark, detail=True)
    try:
        with tracer.installed():
            run = run_crawl(spark, w, inputs, ckpt, tracer)
        err = check(spark, run, want, ckpt)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        err, run = "raised", None
    if err is not None:
        print(f"perfbench: {w.name} traced crawl failed: {err}", file=sys.stderr)
    rounds = tracer.round_breakdown()
    by_phase, untagged = tracer.spark_by_phase()
    t0 = time.perf_counter()
    rows = replay(spark, w.cfg, inputs.store, inputs.policy, ckpt) if run else []
    replay_s = time.perf_counter() - t0

    def phase_s(*names):
        return sum(r["phase_s"].get(n, 0.0) for r in rounds for n in names)

    def spark_sum(phase, key):
        return sum(v[key] for (_, p), v in by_phase.items() if p == phase)

    writes = [s for s in tracer.spans if "bytes" in s]
    plans = [s["plan_chars"] for s in tracer.spans if "plan_chars" in s]
    crawl_wall = sum(run.legs_s) if run else 0.0
    walls = [r["wall_s"] for r in rounds]
    n_jobs = sum(v["jobs"] for v in by_phase.values())
    metrics = {
        "engine.spark_jobs_per_round": n_jobs / max(len(rounds), 1),
        "engine.driver_self_s": sum(r["driver_self_s"] for r in rounds),
        "engine.heap_used_mb": max(tracer.heap_mb.values(), default=0.0),
        "engine.round_wall_growth": (_median(walls[-3:]) / _median(walls)
                                     if walls else 0.0),
        "storage.pages_write_s": phase_s("pages_write"),
        "storage.seen_write_s": phase_s("seen_write"),
        "storage.frontier_write_s": phase_s("frontier_write"),
        "storage.commit_s": phase_s("commit"),
        "storage.bytes_written": sum(s["bytes"] for s in writes),
        "storage.files_written": sum(s["files"] for s in writes),
        "sequence.collect_s": phase_s("sequence"),
        "sequence.jobs": spark_sum("sequence", "jobs"),
        **totals(rows),
        "dedup.bloom_update_s": phase_s("bloom_fit", "bloom_update"),
        "dedup.bloom_plan_chars": plans[-1] if plans else 0,
        "dedup.bloom_plan_growth": plans[-1] / plans[0] if plans else 0.0,
    }
    for p in SPARK_PHASES:
        for k in ("jobs", "task_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            metrics[f"spark.{p}.{k}"] = spark_sum(p, k)
    sum_err = [abs(sum(r["phase_s"].values()) + r["driver_self_s"] - r["wall_s"])
               / r["wall_s"] for r in rounds]
    metrics.update({
        "trace.crawl_wall_s": crawl_wall,
        "trace.self_s": tracer.self_s,
        "trace.overhead_ratio": tracer.self_s / crawl_wall if crawl_wall else 0.0,
        "trace.phase_sum_error": max(sum_err, default=0.0),
        "trace.untagged_jobs": untagged,
        "trace.replay_s": replay_s,
    })

    t_base = min((s["start"] for s in tracer.spans), default=0.0)
    doc = {
        "workload": w.name, "seed": seed, "crawl_wall_s": crawl_wall,
        "untagged_jobs": untagged, "correct": err is None,
        "rounds": rounds,
        "spark": {f"{r}|{p}": v for (r, p), v in sorted(by_phase.items())},
        "replay": rows,
        "heap_mb": {str(k): v for k, v in tracer.heap_mb.items()},
        "spans": [{**s, "start": s["start"] - t_base, "end": s["end"] - t_base}
                  for s in tracer.spans],
        "metrics": metrics,
    }
    out = WORK / "trace" / f"{w.name}-seed{seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(doc, indent=1))
    print(render(doc), file=sys.stderr)
    return metrics, 1, int(err is not None)


def main(argv) -> int:
    args = parse_args(argv)
    if not (ROOT / "crawler_service_spark").is_dir():
        print(f"perfbench: no crawler_service_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS, build_inputs, expected

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {', '.join(WORKLOADS)})", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    work = WORK / f"{w.name}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = start_spark(tmp)
    t_session = time.perf_counter() - T_START
    try:
        inputs = build_inputs(spark, w, args.seed)
        t_inputs = time.perf_counter() - T_START
        warm_up(spark, w, inputs, str(work / "warmup"))
        setup_s = time.perf_counter() - T_START
        print(f"perfbench: set-up {setup_s:.2f} s (session {t_session:.2f} s, "
              f"inputs {t_inputs - t_session:.2f} s, warm-up {setup_s - t_inputs:.2f} s)",
              file=sys.stderr)
        want = expected(spark, w, inputs)
        ckpt = str(work / "ckpt")
        if args.trace:
            metrics, attempted, failed = traced(spark, w, inputs, want, ckpt, args.seed)
            units = {}
        else:
            metrics, attempted, failed = measure(spark, w, inputs, want, ckpt,
                                                 args.seconds)
            metrics["setup_s"] = setup_s
            units = UNITS
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


UNITS = {
    "crawl_wall_s": "s", "pages_per_s": "pages/s", "frontier_urls_per_s": "urls/s",
    "round_wall_p50_s": "s", "round_wall_tail_s": "s", "resume_wall_s": "s",
    "setup_s": "s", "peak_rss_mb": "MB", "checkpoint_bytes_per_page": "B/page",
    "crawl_ok_ratio": "ratio",
}


def layer_unit(name: str) -> str:
    if name == "engine.spark_jobs_per_round":
        return "jobs/round"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("bytes_in") or name.endswith("_written"):
        return "B" if "bytes" in name else "count"
    if name.endswith("_chars"):
        return "chars"
    if name.endswith(("ratio", "growth", "_error")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

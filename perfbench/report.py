"""Render a traced run's rounds × phases tables.

    python3 perfbench/report.py .perfbench_work/trace/crawl_ref-seed1.json

Prints, one row per committed round, the wall seconds, Spark job count
and shuffle bytes (read + write) of every phase, with the engine's own
driver time as the ``engine`` column, then the operator replay's rows.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.spans import PHASES, SPARK_PHASES

REPLAY_COLS = ("frontier", "admitted", "deferred", "pages", "link_candidates",
               "links_kept", "canon_fallback_rows", "dedup_unique", "survivors",
               "bloom_maybe_seen")


def _table(title: str, cols: list[str], rows: list[list]) -> str:
    cells = [[str(c) for c in r] for r in rows]
    widths = [max(len(c), *(len(r[i]) for r in cells)) for i, c in enumerate(cols)]
    line = "  ".join(c.rjust(w) for c, w in zip(cols, widths))
    body = ["  ".join(v.rjust(w) for v, w in zip(r, widths)) for r in cells]
    return "\n".join([title, line, "-" * len(line), *body, ""])


def render(trace: dict) -> str:
    rounds = trace["rounds"]
    spark = trace["spark"]
    phases = [p for p in PHASES if any(p in r["phase_s"] for r in rounds)]
    jobs_phases = [p for p in SPARK_PHASES
                   if any(f"{r['round']}|{p}" in spark for r in rounds)]

    def sp(r, p, k):
        return spark.get(f"{r['round']}|{p}", {}).get(k, 0)

    out = [f"{trace['workload']} seed {trace['seed']}: "
           f"{len(rounds)} rounds, traced crawl {trace['crawl_wall_s']:.2f} s, "
           f"{trace['untagged_jobs']} untagged jobs\n"]
    out.append(_table(
        "wall s (engine = round wall minus phase spans)",
        ["round", "wall", "engine", *phases],
        [[r["round"], f"{r['wall_s']:.2f}", f"{r['driver_self_s']:.2f}",
          *(f"{r['phase_s'].get(p, 0.0):.2f}" for p in phases)] for r in rounds]))
    out.append(_table(
        "spark jobs", ["round", *jobs_phases],
        [[r["round"], *(sp(r, p, "jobs") for p in jobs_phases)] for r in rounds]))
    out.append(_table(
        "shuffle bytes read+write", ["round", *jobs_phases],
        [[r["round"], *(sp(r, p, "shuffle_read_bytes") + sp(r, p, "shuffle_write_bytes")
                        for p in jobs_phases)] for r in rounds]))
    heap = trace["heap_mb"]
    out.append(_table(
        "rows (operator replay) and heap after commit",
        ["round", *REPLAY_COLS, "heap_mb"],
        [[row["round"], *(row.get(c, "") for c in REPLAY_COLS),
          f"{heap.get(str(row['round']), 0.0):.0f}"] for row in trace["replay"]]))
    return "\n".join(out)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    print(render(json.loads(Path(argv[0]).read_text())))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""The scaling report's regeneration keeps the hand-written addendum:
``split_addendum`` cuts only at the full sentinel line, and only where
it starts a line (no Spark)."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from bench_scaling import ADDENDUM_SENTINEL, split_addendum  # noqa: E402


def test_split_at_sentinel_line():
    body = "# BENCH\n\nmedian 1.0\n\n"
    addendum = f"{ADDENDUM_SENTINEL}\n     regeneration. -->\n\nnotes\n"
    assert split_addendum(body + addendum) == (body, addendum)


def test_no_sentinel_keeps_whole_report():
    report = "# BENCH\n\nmedian 1.0\n"
    assert split_addendum(report) == (report, "")


def test_sentinel_inside_a_line_or_truncated_is_not_a_split():
    report = (
        "# BENCH\n"
        f"the report quotes `{ADDENDUM_SENTINEL}` in prose\n"
        "<!-- ADDENDUM of another kind -->\n"
        "<!-- ADDENDUM\n"
    )
    assert split_addendum(report) == (report, "")


def test_first_sentinel_line_wins():
    body = "# BENCH\n"
    addendum = f"{ADDENDUM_SENTINEL}\nfirst\n{ADDENDUM_SENTINEL}\nsecond\n"
    assert split_addendum(body + addendum) == (body, addendum)


def test_committed_report_round_trips():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "BASELINE.md")
    with open(path) as f:
        report = f.read()
    body, addendum = split_addendum(report)
    assert addendum.startswith(ADDENDUM_SENTINEL)
    assert body + addendum == report

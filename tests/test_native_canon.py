"""Parity of the JVM-native canonicalization fast path vs the exact
`urllib.parse` pandas UDF (the source of truth), and of the salted
host rank vs the plain per-host window reference."""

import pandas as pd
from pyspark.sql import functions as F

from crawler_service_spark.functions.urls import (
    canonicalize_frame,
    canonicalize_url,
    host_native,
    host_of,
    native_canon_eligible,
)
from crawler_service_spark.operators.politeness import schedule_round
from rank_reference import reference_rank, reference_schedule

DIRTY_URLS = [
    "https://Host.Example.com/Path/",
    "HTTPS://HOST.EXAMPLE.COM:443/p/1",
    "http://host.example.com:80/",
    "http://host.example.com:8080/x",
    "https://host.example.com/p/1?b=2&a=1",
    "https://host.example.com/p/1?b=2&a=1&a=0",
    "https://host.example.com/p/1?a-b=1&a=2",          # '=' vs '-' tuple-sort case
    "https://host.example.com/p/1?a=1&a1=2",           # '=' vs '1' tuple-sort case
    "https://host.example.com/p/1?key=",               # blank value kept
    "https://host.example.com/p#frag",
    "https://host.example.com/",
    "https://host.example.com",
    "https://host.example.com/a//",
    "https://host.example.com/p?x=%20y",               # percent → python path
    "https://host.example.com/p?x=a+b",                # plus → python path
    "https://host.example.com/p;params",               # params → python path
    "https://[2001:db8::1]:443/p",                     # ipv6 → python path
    "not a url at all",
    "ftp://files.example.com/x/",
    "https://host.example.com/p?weird?=1",             # '?' in key → python path
    "https://host.example.com/p#a?b",                  # '?' inside fragment (ADVICE r01)
    "https://host.example.com/p#a?b=c&d=e",            # fake query in fragment
    "https://host.example.com/p?a=1#x?y=2",            # real query + '?' fragment
]


def test_native_matches_python_on_eligible(spark):
    df = spark.createDataFrame(pd.DataFrame({"url": DIRTY_URLS}))
    rows = (
        canonicalize_frame(df, "url", "canon_url", sort_query=True)
        .withColumn("eligible", native_canon_eligible(F.col("url")))
        .collect()
    )
    assert len(rows) == len(DIRTY_URLS)
    n_fast = 0
    for r in rows:
        expected = canonicalize_url(r["url"], sort_query=True)
        assert r["canon_url"] == expected, (r["url"], r["canon_url"], expected)
        n_fast += bool(r["eligible"])
    # the fast path must actually cover the clean majority
    assert n_fast >= 12


def test_native_matches_python_without_sort(spark):
    df = spark.createDataFrame(pd.DataFrame({"url": DIRTY_URLS}))
    rows = canonicalize_frame(df, "url", "canon_url", sort_query=False).collect()
    for r in rows:
        assert r["canon_url"] == canonicalize_url(r["url"], sort_query=False)


def test_host_native_matches_python(spark):
    df = spark.createDataFrame(pd.DataFrame({"url": DIRTY_URLS}))
    rows = df.select(
        "url", host_native(F.col("url")).alias("h"),
        native_canon_eligible(F.col("url")).alias("eligible"),
    ).collect()
    for r in rows:
        if r["eligible"]:
            assert r["h"] == host_of(r["url"]), r["url"]


def test_filter_internal_matches_oracle_predicate(spark):
    """Hybrid F1 filter ≡ the oracle's urlparse-based predicate on both
    eligible and ineligible URLs."""
    import pandas as pd

    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.operators.links import filter_internal
    from crawler_service_spark.oracle import _is_internal_link

    cfg = CrawlConfig()
    seed = "https://host.example.com/page/0"
    urls = DIRTY_URLS + [
        "https://host.example.com/ok/page",
        "https://host.example.com/doc.PDF",
        "http://host.example.com/other",        # http scheme, same netloc
        "https://HOST.example.com/case",        # netloc case mismatch → drop
        "https://host.example.com:443/port",    # raw netloc mismatch → drop
        "https://host.example.com/x#f",         # fragment → drop
        "mailto:someone@example.com",
        "https://host.example.com/style.css",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({
            "url": urls,
            "seed_netloc": ["host.example.com"] * len(urls),
            "parent_seq": range(len(urls)),
            "depth": [1] * len(urls),
            "link_pos": range(len(urls)),
            "task_id": ["t"] * len(urls),
        })
    )
    kept = {r["url"] for r in filter_internal(df, cfg).collect()}
    expected = {u for u in urls if _is_internal_link(seed, u, cfg)}
    assert kept == expected


def test_skew_rank_matches_window_rank(spark):
    # zipf-ish: host h appears ~1/h as often; plus a mega-hot host
    rows = []
    seq = 0
    for h in range(1, 20):
        for _ in range(200 // h):
            rows.append(("h%d" % h, 0, seq))
            seq += 1
    for _ in range(500):
        rows.append(("hot", 0, seq))
        seq += 1
    df = spark.createDataFrame(rows, "host string, depth int, discovery_seq long")
    # tiny salt_width so hot hosts genuinely span many salt buckets
    a, _ = schedule_round(df, None, shuffle_partitions=8, salt_width=64)
    b, _ = reference_schedule(df)
    ka = {(r["host"], r["discovery_seq"]): (r["host_rank"], r["virtual_fetch_time"])
          for r in a.collect()}
    kb = {(r["host"], r["discovery_seq"]): (r["host_rank"], r["virtual_fetch_time"])
          for r in b.collect()}
    assert ka == kb
    assert len(ka) == len(rows)


def test_skew_rank_mixed_priority_hot_host(spark):
    """A hot host whose batch mixes priorities (deferred rows re-entering
    a later frontier) must rank in (priority, seq) order even when a
    high-priority row has a high discovery_seq (ADVICE r01): the salted
    rank orders its buckets priority-major."""
    rows = []
    seq = 0
    # hot host: 300 rows at depth 2, then 100 LATER-seq rows at depth 1
    # (higher priority) — a seq-major salted rank would order these
    # after depth 2
    for d, n in ((2, 300), (1, 100)):
        for _ in range(n):
            rows.append(("hot", d, seq))
            seq += 1
    for h in range(5):
        rows.append(("h%d" % h, 1, seq))
        seq += 1
    df = spark.createDataFrame(rows, "host string, depth int, discovery_seq long")
    a, _ = schedule_round(df, None, shuffle_partitions=8, salt_width=64)
    b = reference_rank(df)
    ka = {(r["host"], r["discovery_seq"]): r["host_rank"] for r in a.collect()}
    kb = {(r["host"], r["discovery_seq"]): r["host_rank"] for r in b.collect()}
    assert ka == kb
    # sanity: the depth-1 rows must outrank every depth-2 row on the hot host
    assert ka[("hot", 300)] == 1


def test_policy_admin_mutation(spark):
    """set/remove host policy (admin.py:56-109 analog): the next
    schedule_round sees the new limit through the broadcast join."""
    import pytest as _pytest

    from crawler_service_spark.operators.politeness import (
        remove_host_policy,
        set_host_policy,
    )

    rows = [("hot", 0, i) for i in range(30)]
    df = spark.createDataFrame(rows, "host string, depth int, discovery_seq long")

    pol = set_host_policy(spark, None, "hot", 3, window_s=60)
    a, _ = schedule_round(df, pol, default_limit=10, default_window_s=60,
                          budget_rounds=1)
    assert a.count() == 3          # custom limit applies

    pol2 = set_host_policy(spark, pol, "hot", 7)       # upsert overwrites
    a2, _ = schedule_round(df, pol2, default_limit=10, default_window_s=60,
                           budget_rounds=1)
    assert a2.count() == 7

    pol3 = remove_host_policy(pol2, "hot")             # revert to default
    a3, _ = schedule_round(df, pol3, default_limit=10, default_window_s=60,
                           budget_rounds=1)
    assert a3.count() == 10

    with _pytest.raises(ValueError):
        set_host_policy(spark, None, "hot", 0)

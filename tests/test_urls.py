"""URL/domain family (functions/urls.py): parsing goldens over the messy
forms a web corpus actually contains, normalization idempotence, domain
grouping/filtering, and plan guards (pure projections)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

# (url, host, domain, url_norm) goldens — the contract, hand-derived
CASES = [
    (
        "https://www.Example.COM/path?q=1#frag",
        "www.example.com",
        "example.com",
        "https://www.example.com/path?q=1",
    ),
    ("http://example.com:80/a", "example.com", "example.com", "http://example.com/a"),
    (
        "https://example.com:443",
        "example.com",
        "example.com",
        "https://example.com/",
    ),
    (
        "https://example.com:8443/x",
        "example.com",
        "example.com",
        "https://example.com:8443/x",
    ),
    (
        "HTTP://user:pw@Sub.Site.co.uk./news",
        "sub.site.co.uk",
        "site.co.uk",
        "http://sub.site.co.uk/news",
    ),
    ("example.org/bare", "example.org", "example.org", "http://example.org/bare"),
    ("http://localhost:8080/x", "localhost", "localhost", "http://localhost:8080/x"),
    ("https://127.0.0.1/x", "127.0.0.1", "127.0.0.1", "https://127.0.0.1/x"),
    (
        "ftp://files.example.com/pub",
        "files.example.com",
        "example.com",
        "ftp://files.example.com/pub",
    ),
    ("https://xn--bcher-kva.tld/x", "xn--bcher-kva.tld", "xn--bcher-kva.tld",
     "https://xn--bcher-kva.tld/x"),
]


@pytest.fixture(scope="module")
def parsed(spark):
    from llm_tab_cleaner_spark.functions.urls import with_url_columns

    df = spark.createDataFrame(
        [(i, u) for i, (u, *_rest) in enumerate(CASES)], "i long, url string"
    )
    rows = with_url_columns(df, "url").orderBy("i").collect()
    return rows


def test_url_parsing_goldens(parsed):
    for row, (url, host, domain, norm) in zip(parsed, CASES):
        assert row["host"] == host, url
        assert row["domain"] == domain, url
        assert row["url_norm"] == norm, url


def test_normalize_idempotent(spark, parsed):
    """normalize(normalize(u)) == normalize(u) — canonical forms are fixed
    points (the property URL-dedup correctness rests on)."""
    from llm_tab_cleaner_spark.functions.urls import url_normalize

    df = spark.createDataFrame(
        [(r["url_norm"],) for r in parsed], "url string"
    )
    again = df.select(url_normalize(F.col("url")).alias("n"), "url").collect()
    for r in again:
        assert r["n"] == r["url"]


def test_domain_stats(spark):
    from llm_tab_cleaner_spark.functions.urls import domain_stats

    urls = (
        ["https://a.good.com/%d" % i for i in range(6)]
        + ["http://sub.bad.com/%d" % i for i in range(3)]
        + ["https://ok.org/x"]
    )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    stats = {r["domain"]: (r["n_docs"], r["frac"]) for r in domain_stats(df).collect()}
    assert stats["good.com"] == (6, 0.6)
    assert stats["bad.com"] == (3, 0.3)
    assert stats["ok.org"] == (1, 0.1)


def test_url_plan_is_pure_projection(spark):
    from llm_tab_cleaner_spark.functions.urls import with_url_columns

    df = spark.createDataFrame([(1, "https://a.b.c/x")], "i long, url string")
    plan = (
        with_url_columns(df, "url")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "lambdafunction" not in plan.lower()


def test_domain_cap_deterministic_and_semi_join(spark):
    from llm_tab_cleaner_spark.functions.urls import domain_cap

    urls = [(i, "https://hot.com/p%d" % i, "body%d" % i) for i in range(10)] + [
        (100, "https://cold.org/x", "bodyc")
    ]
    df = spark.createDataFrame(urls, "id long, url string, content string")
    kept = domain_cap(df, "url", max_per_domain=4, id_col="id")
    assert kept.count() == 5  # 4 of hot.com + 1 of cold.org
    # deterministic: same winners on rerun and under different partitioning
    ids1 = sorted(r["id"] for r in kept.select("id").collect())
    ids2 = sorted(
        r["id"]
        for r in domain_cap(df.repartition(7), "url", 4, id_col="id")
        .select("id")
        .collect()
    )
    assert ids1 == ids2
    # id-less form keeps the same rows (no tie among distinct urls)
    ids3 = sorted(
        r["id"] for r in domain_cap(df, "url", 4).select("id").collect()
    )
    assert ids1 == ids3
    # winners carry their full original rows back
    assert set(kept.columns) == {"id", "url", "content"}


def test_domain_cap_salted_prune_identical_winners_on_hot_domain(spark):
    """The r6 de-skew (salted two-stage min-N before the per-domain rank)
    must pick EXACTLY the winners of the single-window definition when one
    domain dominates the corpus, at any salt count, and the plan must show
    the pruning stage (two window ranks)."""
    from llm_tab_cleaner_spark.functions.urls import domain_cap

    rows = [(i, "https://giant.com/page/%04d" % i) for i in range(500)] + [
        (1000 + i, "https://minor%d.net/x" % i) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "id long, url string")

    # reference winners: the unsalted single-window definition (id-less
    # form ranks identically here — distinct urls, no ties)
    ref = sorted(r["id"] for r in domain_cap(df, "url", 7).select("id").collect())
    for buckets in (1, 3, 16):
        got = sorted(
            r["id"]
            for r in domain_cap(
                df, "url", 7, id_col="id", salt_buckets=buckets
            ).select("id").collect()
        )
        assert got == ref, f"salt_buckets={buckets} changed the winner set"
    assert len(ref) == 7 + 5

    plan = (
        domain_cap(df, "url", 7, id_col="id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # both stages must survive as their own window operator: the salted
    # (_dom, _salt) ranking and the per-_dom ranking of its survivors
    specs = {
        tuple(re.sub(r"#\d+L?", "", c).strip() for c in spec.split(","))
        for spec in re.findall(r"\bWindow \[[^\]]*\], \[([^\]]*)\]", plan)
    }
    assert specs == {("_dom", "_salt"), ("_dom",)}, plan

"""Similarity search vs numpy ground truth."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.operators import similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(3)
    m = rng.standard_normal((200, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": list(map(list, m))})
    return spark.createDataFrame(pdf), m


def test_cosine_topk_matches_numpy(vecs):
    df, m = vecs
    q = m[0].astype(np.float64)
    sims = (m.astype(np.float64) @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    expected = np.argsort(-np.round(sims, 4), kind="stable")[:10]
    out = similarity.cosine_topk(df, "vec_id", "embedding", list(map(float, m[0])), 10).toPandas()
    assert list(out.vec_id) == list(expected)
    np.testing.assert_allclose(out.cosine, np.round(sims[expected], 4), atol=1e-9)


def test_lsh_topk_subset_of_bucket(vecs):
    df, m = vecs
    out = similarity.lsh_topk(df, "vec_id", "embedding", list(map(float, m[0])), 10, n_planes=4, seed=1).toPandas()
    assert 0 in set(out.vec_id)  # the query's own vector is in its own bucket
    assert out.cosine.iloc[0] == 1.0
    assert (out.cosine.values[:-1] >= out.cosine.values[1:]).all()


def test_knn_join_brute(vecs):
    df, m = vecs
    left = df.filter("vec_id < 3")
    out = similarity.knn_join_brute(left, df.filter("vec_id >= 3"), "vec_id", "vec_id", "embedding", 4).toPandas()
    assert set(out.qid) == {0, 1, 2}
    assert (out.groupby("qid").size() == 4).all()
    md = m.astype(np.float64)
    norms = np.linalg.norm(md, axis=1)
    for qid in range(3):
        sims = (md[3:] @ md[qid]) / (norms[3:] * norms[qid])
        best = int(np.argmax(np.round(sims, 4)) + 3)
        got = out[(out.qid == qid) & (out["rank"] == 1)].nid.iloc[0]
        assert got == best


def test_knn_join_blocked_equals_brute(vecs):
    """The scale path (broadcast probes + partial Java top-k) must be
    row-identical to the cartesian baseline."""
    df, m = vecs
    left = df.filter("vec_id < 3")
    right = df.filter("vec_id >= 3").repartition(7)  # force multi-partition merge
    brute = (
        similarity.knn_join_brute(left, right, "vec_id", "vec_id", "embedding", 4)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    blocked = (
        similarity.knn_join_blocked(left, right, "vec_id", "vec_id", "embedding", 4)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        brute.astype({"qid": "int64", "nid": "int64"}), blocked, check_dtype=False
    )


def test_knn_join_blocked_plan_no_cartesian(vecs, parquet_input):
    """On a file scan (a ``createDataFrame`` input would be folded at
    planning time), the blocked join has no cartesian product, and its only
    shuffle is hash-partitioned on ``qid`` directly above the partial top-k
    aggregate: pairs and vectors never cross it."""
    _, m = vecs
    scan = parquet_input(pd.DataFrame({"vec_id": range(len(m)), "embedding": list(map(list, m))}))
    out = similarity.knn_join_blocked(
        scan.filter("vec_id < 3"), scan.filter("vec_id >= 3"), "vec_id", "vec_id", "embedding", 4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    assert "CartesianProduct" not in plan, plan
    shuffles = [i for i, ln in enumerate(lines) if re.search(r"(?<!Broadcast)Exchange ", ln)]
    assert len(shuffles) == 1, plan
    assert re.search(r"Exchange hashpartitioning\(qid#\d+L?, \d+\)", lines[shuffles[0]]), plan
    below = lines[shuffles[0] + 1]
    assert "ObjectHashAggregate" in below and "partial_llm_tab_cleaner_topk_" in below, plan


def _ranked(frame) -> list[tuple]:
    """(qid, rank, nid, cosine) rows, sorted; NaN as "nan" and -0.0 as 0.0,
    since Spark ranks each as one value."""
    def cos(c):
        return None if c is None else "nan" if math.isnan(c) else c + 0.0

    return sorted((r.qid, r["rank"], r.nid, cos(r.cosine)) for r in frame.collect())


def test_knn_join_blocked_ties_zero_vectors_and_short_right_side(spark, parquet_input):
    """Duplicate and sign-flipped vectors (cosine ties, also at 0.0 after
    rounding), zero vectors and a k larger than the right side: the
    blocked join equals the brute window row for row. A zero vector has no
    cosine: with ANSI mode on (the default) and off, both joins rank its
    NULL cosine last."""
    base = [1.0, 2.0, 0.0, -1.0]
    vecs = [
        base, base, base, [-x for x in base], [0.0] * 4, [0.0] * 4,
        [2.0, -1.0, 0.0, 0.0], [1e-9, 0.0, 5.0, 0.0], [-1e-9, 0.0, 5.0, 0.0],
        [0.5, 1.0, 0.0, -0.5],
    ]
    df = parquet_input(pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs}))

    def both(left, right, k):
        return [
            join(left, right, "vec_id", "vec_id", "embedding", k)
            for join in (similarity.knn_join_brute, similarity.knn_join_blocked)
        ]

    nonzero = df.filter("vec_id NOT IN (4, 5)")
    left = nonzero.filter("vec_id IN (0, 3, 7)")
    for right, k in ((nonzero, 3), (nonzero.repartition(3), 20), (df.filter("vec_id >= 8"), 5)):
        brute, blocked = both(left, right, k)
        assert _ranked(blocked) == _ranked(brute)
    assert len(_ranked(blocked)) == 3 * 2  # k beyond the right side keeps every row
    for ansi in ("true", "false"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            brute, blocked = both(df.filter("vec_id IN (0, 4)"), df.repartition(3), 12)
            ranked = _ranked(blocked)
            assert ranked == _ranked(brute)
        finally:
            spark.conf.unset("spark.sql.ansi.enabled")
        assert [r[3] for r in ranked].count(None) == 2 + 10
        for qid in (0, 4):
            cos = [r[3] for r in ranked if r[0] == qid]
            nulls = cos.count(None)
            assert nulls and cos[-nulls:] == [None] * nulls  # NULLs rank last
    top = similarity.cosine_topk(df, "vec_id", "embedding", base, 10).collect()
    assert [(r.vec_id, r.cosine) for r in top[-2:]] == [(4, None), (5, None)]


_TOPK_ROWS = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.one_of(st.none(), st.integers(0, 6)),
        st.sampled_from([float("nan"), -0.0, 0.0, 1.0, -1.0, 0.5, None]),
    ),
    min_size=1, max_size=40,
)


@given(_TOPK_ROWS, st.integers(1, 6))
@settings(max_examples=30, deadline=None)
def test_topk_aggregator_orders_like_spark(spark, rows, k):
    """The top-k aggregator ranks (nid, cosine) as Spark's ``ORDER BY
    cosine DESC, nid ASC`` does: NaN above every number, -0.0 equal to 0.0,
    a NULL cosine last, a NULL nid first."""
    from pyspark.sql import Window

    from llm_tab_cleaner_spark import jvm as J

    df = spark.createDataFrame(rows, "qid int, nid bigint, cosine double").repartition(3)
    topk = J.session_udf(
        spark, "llm_tab_cleaner_topk", repr(k).encode(), J.SIGNATURES_CLASS, "registerTopK", k
    )
    got = (
        df.groupBy("qid").agg(F.call_function(topk, F.col("nid"), F.col("cosine")).alias("b"))
        .select("qid", F.posexplode("b.top"))
        .select("qid", (F.col("pos") + 1).alias("rank"), "col.nid", "col.cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    want = df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    assert _ranked(got) == _ranked(want)


def test_lsh_topk_multiprobe_improves_recall(vecs):
    df, m = vecs
    q = list(map(float, m[0]))
    base = similarity.lsh_topk(df, "vec_id", "embedding", q, 10, n_planes=4, seed=1, multiprobe=0)
    probed = similarity.lsh_topk(df, "vec_id", "embedding", q, 10, n_planes=4, seed=1, multiprobe=1)
    exact = similarity.cosine_topk(df, "vec_id", "embedding", q, 10)
    e = set(exact.toPandas().vec_id)
    r0 = len(e & set(base.toPandas().vec_id)) / 10
    r1 = len(e & set(probed.toPandas().vec_id)) / 10
    assert r1 >= r0  # probing neighbors never hurts recall
    assert r1 >= 0.5  # and reaches useful recall on this input


def test_ivf_assign_deterministic(vecs):
    df, _ = vecs
    a = similarity.ivf_assign(df, "vec_id", "embedding", 8, 16).toPandas()
    b = similarity.ivf_assign(df, "vec_id", "embedding", 8, 16).toPandas()
    assert (a.sort_values("vec_id").cell.values == b.sort_values("vec_id").cell.values).all()
    assert a.cell.nunique() > 1


def test_trained_ivf_beats_random_centroids(spark):
    """Lloyd-trained codebook: same-cluster vectors land in the same cell far
    more often than with random hyplane centroids (clustered fixture)."""
    rng = np.random.default_rng(21)
    centers = rng.standard_normal((4, 16)).astype(np.float32) * 3
    rows, labels = [], []
    for i in range(400):
        k = i % 4
        rows.append((i, list(map(float, centers[k] + rng.standard_normal(16) * 0.3))))
        labels.append(k)
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    cb = similarity.train_ivf_codebook(df, "embedding", n_centroids=4, iters=10)
    assert cb.shape == (4, 16)
    np.testing.assert_allclose(np.linalg.norm(cb, axis=1), 1.0, atol=1e-5)
    out = similarity.ivf_assign(df, "vec_id", "embedding", codebook=cb).toPandas()
    out = out.sort_values("vec_id").reset_index(drop=True)
    out["true"] = labels
    # purity: every true cluster maps to one dominant cell
    purity = out.groupby("true").cell.agg(lambda s: s.value_counts().iloc[0] / len(s))
    assert (purity > 0.95).all()


def test_knn_join_blocked_probe_guard(vecs):
    """The probe side is driver-collected by design; exceeding the bound
    must fail loudly instead of silently OOMing the driver."""
    df, _ = vecs
    with pytest.raises(ValueError, match="probe"):
        similarity.knn_join_blocked(
            df, df, "vec_id", "vec_id", "embedding", 3, max_probe_rows=50
        ).collect()

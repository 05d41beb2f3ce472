"""The JVM signature kernels (``jvm/Signatures.java``) equal the numpy
oracles in ``signature_oracles.py`` bit for bit: MinHash and SimHash on
arbitrary text (empty, whitespace-only, non-ASCII, NULL), hyperplane keys on
random matrices against both the float32 and the float64 matmul. Values do
not depend on how rows are partitioned."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import signature_oracles as O
from llm_tab_cleaner_spark import jvm as J
from llm_tab_cleaner_spark.operators import dedup, similarity

_EDGE_TEXTS = [
    "", " ", "   \t\n", "abcd", "abcde", "héllo wörld ", "日本語 テキスト", "x\ty\nz",
]
_TEXTS = st.lists(
    st.one_of(st.none(), st.text(max_size=120), st.sampled_from(_EDGE_TEXTS)),
    min_size=1, max_size=10,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}), "doc_id long, text string"
    )


def _minhash(frame, **kw):
    rows = dedup.minhash_signatures(frame, ["doc_id"], "text", **kw).orderBy("doc_id").collect()
    return [None if r.minhash is None else list(r.minhash) for r in rows]


def _simhash(frame):
    rows = dedup.simhash_signatures(frame, ["doc_id"], "text").orderBy("doc_id").collect()
    return [r.simhash for r in rows]


@given(_TEXTS)
@settings(max_examples=40, deadline=None)
def test_minhash_and_simhash_equal_numpy_oracles(spark, texts):
    df = _docs(spark, texts)
    assert _minhash(df) == O.minhash_batch(texts)
    assert _minhash(df, num_hashes=16, shingle_k=3, seed=7) == O.minhash_batch(texts, 16, 3, 7)
    assert _simhash(df) == [int(v) for v in O.batch_simhash(pd.Series(texts))]


@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(1, 30),
    dim=st.integers(1, 96),
    bands=st.integers(1, 4),
    rows=st.integers(1, 8),
)
@settings(max_examples=25, deadline=None)
def test_hyperplane_keys_equal_numpy_f32_and_f64(spark, seed, n, dim, bands, rows):
    m = np.random.default_rng(seed).standard_normal((n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in m]}),
        "vec_id long, embedding array<float>",
    )
    got = similarity.banded_buckets(df, "vec_id", "embedding", bands, rows, seed % 1000, dim)
    keys = np.array([r.buckets for r in got.orderBy("vec_id").collect()])
    assert (keys == O.hyperplane_keys(m, bands, rows, seed % 1000, np.float32)).all()
    assert (keys == O.hyperplane_keys(m, bands, rows, seed % 1000, np.float64)).all()
    one = similarity.hyperplane_buckets(df, "vec_id", "embedding", rows, dim, seed % 1000)
    bucket = np.array([r.bucket for r in one.orderBy("vec_id").collect()])
    assert (bucket == O.hyperplane_keys(m, 1, rows, seed % 1000, np.float64)[:, 0]).all()


def test_signatures_do_not_depend_on_partitioning(spark, parquet_input):
    rng = np.random.default_rng(3)
    words = np.array(["alpha", "beta", "gamma", "délta", "ε", "\t", "  ", "x"])
    texts = [" ".join(rng.choice(words, size=rng.integers(0, 40))) for _ in range(200)]
    texts += [None, ""] + _EDGE_TEXTS
    df = parquet_input(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    want_mh, want_sh = O.minhash_batch(texts), [int(v) for v in O.batch_simhash(pd.Series(texts))]
    for parts in (1, 7):
        assert _minhash(df.repartition(parts)) == want_mh
        assert _simhash(df.repartition(parts)) == want_sh

    m = rng.standard_normal((120, 24)).astype(np.float32)
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(120), "embedding": [v.tolist() for v in m]}),
        "vec_id long, embedding array<float>",
    )
    want = O.hyperplane_keys(m, 4, 6, 42, np.float32)
    for parts in (1, 7):
        got = similarity.banded_buckets(vecs.repartition(parts), "vec_id", "embedding", 4, 6, 42)
        assert (np.array([r.buckets for r in got.orderBy("vec_id").collect()]) == want).all()


def test_hyperplane_width_mismatch_raises(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1], "embedding": [[1.0] * 8, [0.5] * 9]}),
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="expected vectors of width 8, got 9"):
        similarity.banded_buckets(df, "vec_id", "embedding", 2, 4, 42, dim=8).collect()


def test_signature_udfs_without_class_name_the_fix(spark, monkeypatch):
    monkeypatch.setattr(J, "SIGNATURES_CLASS", "llm_tab_cleaner_spark.jvm.NoSuchSignatures")
    df = _docs(spark, ["some text here"])
    # an unregistered seed: the session has no function under this name yet
    with pytest.raises(RuntimeError, match="build_session") as err:
        dedup.minhash_signatures(df, ["doc_id"], "text", seed=987_654)
    assert "--jars" in str(err.value)

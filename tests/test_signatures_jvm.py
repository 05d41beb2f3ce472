"""The JVM kernels in ``jvm/Signatures.java`` equal the oracles in
``signature_oracles.py`` bit for bit: MinHash, SimHash, token n-gram hashes
and winnowing fingerprints on arbitrary text (empty, whitespace-only,
non-ASCII, astral, NULL, too short), hyperplane keys on random
matrices against both the float32 and the float64 matmul, IVF cells against
a sequential replay of their dots and the numpy matmul they replaced, and the
pair-verify dot product, norm and equal-slot count against the lambda folds
they replaced (NULL arrays, NULL elements, unequal and zero widths). Values
do not depend on how rows are partitioned."""

from __future__ import annotations

import re
import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

import signature_oracles as O
from llm_tab_cleaner_spark import jvm as J
from llm_tab_cleaner_spark.operators import dedup, fingerprint, similarity

_EDGE_TEXTS = [
    "", " ", "   \t\n", "\x0b\x0c \x0b", "abcd", "abcde", "héllo wörld ",
    "日本語 テキスト", "x\ty\nz", "emoji 😀 𝔘 😀 tail", "\x1c\x85 not ascii whitespace",
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


_JAVA_WS = " \t\n\x0b\x0c\r"


def _naive_distinct_ngrams(text: str | None, n: int) -> int:
    """Distinct token-n-gram count in pure Python, splitting on the ASCII
    whitespace bytes only (not str.split(), which also splits on unicode
    whitespace)."""
    toks = [t for t in re.split(f"[{re.escape(_JAVA_WS)}]+", text or "") if t]
    return len({tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)})


def _ngrams(frame, n_values, distinct):
    out = dedup.token_multi_ngram_hashes(frame, ["doc_id"], "text", n_values, distinct)
    return [list(r.gram_hashes) for r in out.orderBy("doc_id").collect()]


def _winnow(frame, k, w):
    out = fingerprint.winnow_fingerprints(frame, ["doc_id"], "text", k, w)
    return [list(r.fp_hashes) for r in out.orderBy("doc_id").collect()]


_NGRAM_ORDERS = st.one_of(
    st.sampled_from([((3,), True), ((5,), True), ((13,), True), ((1, 2), False),
                     ((1, 2), True), ((3,), False)]),
    st.tuples(st.lists(st.integers(1, 4), min_size=1, max_size=3).map(tuple), st.booleans()),
)


@given(_TEXTS, _NGRAM_ORDERS)
@example(_EDGE_TEXTS + [None], ((1, 2), False))
@example(_EDGE_TEXTS + [None], ((3,), True))
@settings(max_examples=40, deadline=None)
def test_ngrams_equal_numpy_oracle(spark, texts, orders):
    n_values, distinct = orders
    got = _ngrams(_docs(spark, texts), n_values, distinct)
    assert got == O.batch_multi_ngram_hashes(texts, n_values, distinct)
    if distinct and len(n_values) == 1:
        # one hash per distinct token n-gram (64-bit collisions are
        # ~impossible at test sizes)
        assert [len(g) for g in got] == [_naive_distinct_ngrams(t, n_values[0]) for t in texts]


@given(_TEXTS, st.sampled_from([(8, 16), (5, 4), (1, 1), (3, 50), (2, 3)]))
@example(_EDGE_TEXTS + [None, "abc", "abcdefgh", "x" * 20], (3, 50))
@settings(max_examples=40, deadline=None)
def test_winnow_equal_numpy_oracle(spark, texts, kw):
    k, w = kw
    assert _winnow(_docs(spark, texts), k, w) == [O.winnow_hashes(t, k, w) for t in texts]


@pytest.mark.parametrize("n_values", [(), (0,), (-1,), (2, 0)])
def test_ngram_orders_validated_on_the_driver(spark, n_values):
    df = _docs(spark, ["a b c"])
    with pytest.raises(ValueError, match="n >= 1"):
        dedup.token_multi_ngram_hashes(df, ["doc_id"], "text", n_values)
    if len(n_values) == 1:
        with pytest.raises(ValueError, match="n >= 1"):
            dedup.token_ngram_hashes(df, ["doc_id"], "text", n_values[0])


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


@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(1, 30),
    dim=st.integers(1, 48),
    cells=st.integers(2, 12),
)
@settings(max_examples=25, deadline=None)
def test_ivf_cells_equal_sequential_and_numpy_oracles(spark, seed, n, dim, cells):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim)).astype(np.float32)
    cents = rng.standard_normal((cells, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in m]}),
        "vec_id long, embedding array<float>",
    )
    out = similarity.ivf_assign(df, "vec_id", "embedding", codebook=cents)
    got = np.array([r.cell for r in out.orderBy("vec_id").collect()])
    assert got.tolist() == [O.nearest_centroid(v, cents) for v in m]
    want, gap = O.ivf_cells(m, cents)
    clear = gap > 1e-9  # the matmul's rounding cannot reorder these rows
    assert (got[clear] == want[clear]).all()


def test_ivf_cell_edge_rows(spark):
    """A zero vector lands in cell 0, exact ties in the lowest cell, a NULL
    vector in a NULL cell; a vector of another width raises."""
    cents = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])
    vecs = [[0.0, 0.0], [1.0, 1.0], [0.0, 1.0], [1.0, 0.0], None, [-2.0, -1.0]]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    out = similarity.ivf_assign(df, "vec_id", "embedding", codebook=cents)
    got = [r.cell for r in out.orderBy("vec_id").collect()]
    assert got == [0, 0, 1, 0, None, 1] == [O.nearest_centroid(v, cents) for v in vecs]
    wide = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="expected vectors of width 2, got 3"):
        similarity.ivf_assign(wide, "vec_id", "embedding", codebook=cents).collect()


@st.composite
def _array_pair(draw, elem):
    """Two arrays of width 0-96; sometimes of unequal widths, sometimes
    with a NULL element, sometimes NULL."""
    width = draw(st.integers(0, 96))
    other = draw(st.sampled_from([width, width, width, max(width - 1, 0), width + 1]))
    pair = [draw(st.lists(elem, min_size=w, max_size=w)) for w in (width, other)]
    for arr in pair:
        if arr and draw(st.integers(0, 9)) == 0:
            arr[draw(st.integers(0, len(arr) - 1))] = None
    return [None if draw(st.integers(0, 9)) == 0 else arr for arr in pair]


def _bits(v):
    return None if v is None else struct.pack("<d", v)


_VEC_AND_SLOT_PAIRS = st.lists(
    st.tuples(_array_pair(st.floats(-1e6, 1e6)), _array_pair(st.integers(0, 3))),
    min_size=1, max_size=8,
)


@given(_VEC_AND_SLOT_PAIRS)
@example([
    (([], []), ([], [])),
    ((None, [1.0]), ([1], None)),
    (([1.0, 2.0], [3.0]), ([1, 2], [1])),
])
@settings(max_examples=40, deadline=None)
def test_pair_kernels_equal_lambda_folds(spark, cases):
    rows = [(i, a, b, x, y) for i, ((a, b), (x, y)) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>, x array<bigint>, y array<bigint>"
    ).repartition(2)  # a shuffle keeps the projection out of planning-time folding
    got = df.select(
        "id",
        similarity.dot_expr("a", "b").alias("dot"),
        O.dot_fold("a", "b").alias("dot_fold"),
        similarity.norm_expr("a").alias("norm"),
        O.norm_fold("a").alias("norm_fold"),
        similarity.equal_slots_expr("x", "y").alias("eq"),
        O.equal_slots_fold("x", "y").alias("eq_fold"),
    ).orderBy("id").collect()
    assert len(got) == len(rows)
    for r, (_, a, b, _, _) in zip(got, rows):
        assert _bits(r.dot) == _bits(r.dot_fold) == _bits(O.sequential_dot(a, b)), (a, b)
        assert _bits(r.norm) == _bits(r.norm_fold), a
        assert r.eq == r.eq_fold


def test_signatures_do_not_depend_on_partitioning(spark, parquet_input):
    rng = np.random.default_rng(3)
    words = np.array(["alpha", "beta", "gamma", "délta", "ε", "\t", "  ", "x"])
    texts = [" ".join(rng.choice(words, size=rng.integers(0, 40))) for _ in range(200)]
    texts += [None, ""] + _EDGE_TEXTS
    df = parquet_input(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    want_mh, want_sh = O.minhash_batch(texts), [int(v) for v in O.batch_simhash(pd.Series(texts))]
    want_ng = O.batch_multi_ngram_hashes(texts, (1, 3), True)
    want_fp = [O.winnow_hashes(t, 5, 4) for t in texts]
    for parts in (1, 7):
        assert _minhash(df.repartition(parts)) == want_mh
        assert _simhash(df.repartition(parts)) == want_sh
        assert _ngrams(df.repartition(parts), (1, 3), True) == want_ng
        assert _winnow(df.repartition(parts), 5, 4) == want_fp
    # the oracles are row local too: one row at a time gives the batch's values
    assert [O.batch_multi_ngram_hashes([t], (1, 3), True)[0] for t in texts] == want_ng

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

"""Winnowing fingerprints (operators/fingerprint.py, the Java UDF
``Signatures.Winnow``) vs an independent brute-force reimplementation, plus
the paper's structural guarantees."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.operators.fingerprint import (
    WINNOW_BASE,
    WINNOW_MOD,
    winnow_fingerprints,
    winnow_overlap_pairs,
)


def brute_winnow(text: str, k: int, w: int) -> list[int]:
    """Straight-from-the-paper reference: per-position poly hashes, explicit
    window scan, rightmost-min selection — no numpy, no shared code."""
    if len(text) < k:
        return []
    hashes = []
    for i in range(len(text) - k + 1):
        h = 0
        for ch in text[i : i + k]:
            h = (h * WINNOW_BASE + ord(ch)) % WINNOW_MOD
        hashes.append(h)
    n = len(hashes)
    sel: set[int] = set()
    starts = range(n - w + 1) if n > w else [0]
    width = w if n > w else n
    for s in starts:
        win = hashes[s : s + width]
        m = min(win)
        # rightmost occurrence of the min
        pos = s + max(j for j, v in enumerate(win) if v == m)
        sel.add(pos)
    return sorted({hashes[p] for p in sel})


def _winnow(spark, texts, k: int, w: int) -> list[list[int]]:
    """``winnow_fingerprints`` of each text, in input order."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}), "doc_id long, text string"
    )
    rows = winnow_fingerprints(df, ["doc_id"], "text", k, w).orderBy("doc_id").collect()
    return [list(r.fp_hashes) for r in rows]


@pytest.mark.parametrize("k,w", [(3, 4), (5, 8), (8, 16), (2, 1), (4, 100)])
def test_kernel_matches_bruteforce(spark, k, w):
    rng = np.random.default_rng(11)
    alphabet = "abcdef ()\n\tλé"
    texts = [
        "".join(alphabet[i] for i in rng.integers(0, len(alphabet), int(rng.integers(0, 60))))
        for _ in range(120)
    ]
    for s, got in zip(texts, _winnow(spark, texts, k, w)):
        assert got == brute_winnow(s, k, w), repr(s)


def test_kernel_edges(spark):
    empty, short, null, one = _winnow(spark, ["", "abcd", None, "abcde"], 5, 8)
    assert empty == short == null == []  # "abcd" is shorter than k
    # exactly k chars → one gram → one fingerprint
    assert len(one) == 1 and one == brute_winnow("abcde", 5, 8)


def test_shared_substring_guarantee(spark):
    """Winnowing's core theorem: a shared substring of length >= k + w - 1
    yields at least one shared fingerprint."""
    k, w = 5, 8
    common = "def shared_helper(x): return x * 37 + 1"  # len 39 >= k+w-1
    a = "AAAA zzz " + common + " qq tail one"
    b = "totally other prefix " + common + " different suffix!"
    fa, fb = _winnow(spark, [a, b], k, w)
    assert set(fa) & set(fb)


def test_density_bound(spark):
    """Expected density 2/(w+1): on random text the selected fraction sits
    near it (loose band — it's an expectation, not a guarantee)."""
    rng = np.random.default_rng(3)
    s = "".join("abcdefghij"[i] for i in rng.integers(0, 10, 20000))
    k, w = 8, 16
    n_grams = len(s) - k + 1
    density = len(_winnow(spark, [s], k, w)[0]) / n_grams
    assert 0.5 * 2 / (w + 1) < density < 2.0 * 2 / (w + 1)


@pytest.fixture(scope="module")
def clone_docs(spark):
    helper = "def parse_config(path):\n    with open(path) as f:\n        return json.load(f)\n"
    rows = [
        (1, "import json\n" + helper + "print(parse_config('a.json'))\n"),
        (2, "import json, sys\n" + helper + "sys.exit(0)\n"),  # clone of helper
        (3, helper),  # the helper alone (containment ~1.0 vs 1 and 2)
        (4, "x = 1\ny = 2\nprint(x + y)\n"),  # unrelated
        (5, ""),  # empty
        (6, "tiny"),  # < k
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_winnow_fingerprints_df(spark, clone_docs):
    out = (
        winnow_fingerprints(clone_docs, ["doc_id"], "text", k=8, window=16)
        .toPandas()
        .set_index("doc_id")
    )
    local = {
        r.doc_id: brute_winnow(r.text, 8, 16)
        for r in clone_docs.collect()
    }
    for doc_id, want in local.items():
        assert sorted(out.loc[doc_id, "fp_hashes"]) == want
    assert len(out.loc[5, "fp_hashes"]) == 0 and len(out.loc[6, "fp_hashes"]) == 0


def test_winnow_overlap_pairs(spark, clone_docs):
    pairs = winnow_overlap_pairs(
        clone_docs, "doc_id", "text", k=8, window=16, min_shared=2
    ).toPandas()
    found = {(r.id_a, r.id_b): r for r in pairs.itertuples()}
    assert (1, 2) in found and (1, 3) in found and (2, 3) in found
    # containment: the bare helper (3) is wholly inside 1 and 2
    assert found[(1, 3)].overlap >= 0.9
    assert all(r.id_a < r.id_b for r in pairs.itertuples())
    assert not any(4 in (a, b) for a, b in found)


def test_doc_freq_cap_drops_boilerplate(spark):
    """A fingerprint present in every doc is a hot key: with the cap below
    the corpus size the all-share pairs vanish, with it above they return."""
    boiler = "# SPDX-License-Identifier: MIT — standard header line here\n"
    rows = [(i, boiler + f"unique body {i} " + "x" * i) for i in range(6)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    capped = winnow_overlap_pairs(
        df, "doc_id", "text", k=8, window=4, min_shared=1, max_doc_freq=3
    ).toPandas()
    uncapped = winnow_overlap_pairs(
        df, "doc_id", "text", k=8, window=4, min_shared=1, max_doc_freq=1000
    ).toPandas()
    assert len(uncapped) == 15  # all C(6,2) pairs share the header
    assert len(capped) < 15


def test_batch_order_invariance(spark, clone_docs):
    """Per-row purity: shuffling row order never changes a row's set."""
    base = (
        winnow_fingerprints(clone_docs, ["doc_id"], "text", k=8, window=16)
        .toPandas()
        .set_index("doc_id")["fp_hashes"]
        .map(sorted)
    )
    shuffled = (
        winnow_fingerprints(
            clone_docs.orderBy(F.desc("doc_id")), ["doc_id"], "text", k=8, window=16
        )
        .toPandas()
        .set_index("doc_id")["fp_hashes"]
        .map(sorted)
    )
    assert dict(base) == dict(shuffled)

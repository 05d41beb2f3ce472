"""Pure-numpy unit tests for the scorer (no Spark) — fast gate."""

from __future__ import annotations

import numpy as np
import pandas as pd

from llm_tab_cleaner_spark.fixtures.code_files import generate_code_files
from llm_tab_cleaner_spark.functions.scoring import default_model, train_model


def test_model_deterministic():
    m1, m2 = train_model(), train_model()
    assert m1.languages == m2.languages
    assert np.array_equal(m1.lang_logprob, m2.lang_logprob)
    assert m1.train_mean_bits == m2.train_mean_bits


def test_langid_accuracy_on_fixture():
    cf, lab = generate_code_files(2000, seed=13)
    m = default_model()
    sc = m.score_batch(cf.content)
    df = pd.concat([cf[["lang"]], lab[["label_class"]], sc], axis=1)
    norm = df[(df.label_class == "normal") & df.lang.notna()]
    assert (norm.lang_pred == norm.lang).mean() > 0.995


def test_perplexity_separates_garbled():
    cf, lab = generate_code_files(2000, seed=29)
    m = default_model()
    sc = m.score_batch(cf.content)
    df = pd.concat([lab[["label_class"]], sc], axis=1)
    normal_max = df[df.label_class == "normal"].ppl_bits.max()
    garbled_min = df[df.label_class == "garbled"].ppl_bits.min()
    assert normal_max < m.ppl_drop_bits < garbled_min


def test_empty_and_tiny_inputs():
    m = default_model()
    out = m.score_batch(pd.Series(["", "ab", None, "x" * 5]))
    assert len(out) == 4
    assert out.ppl_bits.iloc[0] == 0.0
    assert out.lang_pred.iloc[0] is None  # too little text for a call


def test_batch_order_invariance():
    """Scores must not depend on batch composition (north_rule determinism)."""
    cf, _ = generate_code_files(300, seed=5)
    m = default_model()
    full = m.score_batch(cf.content).reset_index(drop=True)
    rev = m.score_batch(cf.content.iloc[::-1]).reset_index(drop=True).iloc[::-1].reset_index(drop=True)
    assert np.allclose(full.ppl_bits, rev.ppl_bits)
    assert (full.lang_pred.fillna("") == rev.lang_pred.fillna("")).all()


def test_batch_is_nullish_matches_native_semantics():
    """is_nullish rides the scorer UDF (round-3 VERDICT #6); the byte-level
    check must equal lower(ws_strip(coalesce(x, ''))) ∈ NULLISH_TOKENS on
    every edge: empty, None, whitespace-only, mixed-case tokens, near-miss
    strings, and non-ASCII lookalikes."""
    import re

    from llm_tab_cleaner_spark.functions import thresholds as TH

    vals = [
        "", "   ", "\t\n", "N/A", " null\t", "nil", "NILx", "xnil",
        "Unknown", "unknown  ", "tbd", "to do", "code here", None,
        "ＮＵＬＬ", "n / a", "-", "none\n\n", "x" * 50,
    ]
    out = default_model().score_batch(pd.Series(vals))

    def native(s):
        s = s if isinstance(s, str) else ""
        return re.sub(r"^\s+|\s+$", "", s).lower() in TH.NULLISH_TOKENS

    got = list(out.is_nullish)
    want = [native(v) for v in vals]
    assert got == want, list(zip(vals, got, want))

"""Gopher repetition features (functions/repetition.py): pure-Python
reference parity on crafted multi-line strings (the documents table is
single-line, so the oracle twin exercises mostly the n-gram paths — the
line-feature goldens live HERE), pipeline gate behavior, and plan guards."""

from __future__ import annotations

import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F


def _r4(x: float) -> float:
    # Spark round() = BigDecimal.valueOf(double) HALF_UP = Decimal(repr(x))
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def ref_stats(text: str, n: int = 2) -> dict:
    """Pure-Python mirror of repetition_stats / the DuckDB oracle."""
    norm = re.sub(r"[ \t\r\f]*\n[ \t\r\f]*", "\n", text)
    norm = re.sub(r"^[ \t\r\f]+|[ \t\r\f]+$", "", norm)
    norm = re.sub(r"^\n+|\n+$", "", norm)
    lines = [] if norm == "" else re.split(r"\n+", norm)
    lc = Counter(lines)
    n_lines = len(lines)
    lt = sum(c * len(l) for l, c in lc.items())
    ld = sum(c * len(l) for l, c in lc.items() if c > 1)
    stripped = re.sub(r"^[ \t\r\f\n]+|[ \t\r\f\n]+$", "", text)
    words = re.split(r"[ \t\r\f\n]+", stripped) if stripped else []
    grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    gc = Counter(grams)
    gt = sum(c * len(g) for g, c in gc.items())
    gd = sum(c * len(g) for g, c in gc.items() if c > 1)
    top = max(gc.items(), key=lambda kv: (kv[1], len(kv[0]), kv[0])) if gc else None
    return {
        "n_lines": n_lines,
        "dup_line_frac": _r4(1.0 - len(lc) / n_lines) if n_lines else 0.0,
        "dup_line_char_frac": _r4(ld / lt) if lt else 0.0,
        "top_ngram_char_frac": _r4(top[1] * len(top[0]) / gt) if top else 0.0,
        "dup_ngram_char_frac": _r4(gd / gt) if gt else 0.0,
    }


CASES = [
    "a\nb\nc",                                  # no repetition
    "log line\nlog line\nlog line\nother",      # heavy line dup
    "  padded  \n\tpadded\t\npadded\r\n\r\n",   # ws-trimmed lines all equal
    "\n\n\n",                                   # blank-only
    "",                                         # empty
    "single",                                   # one word, no bigrams
    "x y x y x y z",                            # repeated bigrams (overlap)
    "a  b\t\tb a  a b",                         # multi-space separators
    "line one\n\n\nline one\n  \nline two",     # blank runs between dups
    "tab\there\nmix \r\n windows\r\nmix",       # CRLF + mixed ws
    "é ü\né ü\nascii",                          # non-ascii content
]


def test_reference_goldens_hand_checked():
    s = ref_stats("log line\nlog line\nlog line\nother")
    # 4 lines, 2 distinct -> dup_line_frac = 1 - 2/4 = 0.5
    assert s["n_lines"] == 4 and s["dup_line_frac"] == 0.5
    # chars: 'log line'(8)*3 dup + 'other'(5) -> 24/29
    assert s["dup_line_char_frac"] == _r4(24 / 29)
    s = ref_stats("x y x y x y z")
    # bigrams: 'x y'*3, 'y x'*2, 'y z'*1 -> top 9/18, dup 15/18
    assert s["top_ngram_char_frac"] == 0.5 and s["dup_ngram_char_frac"] == _r4(15 / 18)
    s = ref_stats("  padded  \n\tpadded\t\npadded\r\n\r\n")
    assert s["n_lines"] == 3 and s["dup_line_frac"] == _r4(1 - 1 / 3)
    assert ref_stats("") == {
        "n_lines": 0, "dup_line_frac": 0.0, "dup_line_char_frac": 0.0,
        "top_ngram_char_frac": 0.0, "dup_ngram_char_frac": 0.0,
    }


def test_repetition_stats_matches_reference(spark):
    from llm_tab_cleaner_spark.functions.repetition import repetition_stats

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(df, "doc_id", "text", 2).collect()
    }
    assert len(got) == len(CASES)
    for i, t in enumerate(CASES):
        want = ref_stats(t)
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v, abs=1e-9), (i, k, repr(t), got[i])


def test_repetition_stats_trigram_and_unigram(spark):
    from llm_tab_cleaner_spark.functions.repetition import repetition_stats

    df = spark.createDataFrame([(0, "a b a b a b c")], "doc_id bigint, text string")
    tri = repetition_stats(df, "doc_id", "text", 3).collect()[0]
    want = ref_stats("a b a b a b c", 3)
    assert tri["top_ngram_char_frac"] == pytest.approx(want["top_ngram_char_frac"])
    uni = repetition_stats(df, "doc_id", "text", 1).collect()[0]
    wantu = ref_stats("a b a b a b c", 1)
    assert uni["top_ngram_char_frac"] == pytest.approx(wantu["top_ngram_char_frac"])
    assert uni["dup_ngram_char_frac"] == pytest.approx(wantu["dup_ngram_char_frac"])


def test_dup_line_frac_expr_matches_reference(spark):
    from llm_tab_cleaner_spark.functions.repetition import dup_line_frac_expr

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "doc_id bigint, text string"
    )
    rows = df.select(
        "doc_id", F.round(dup_line_frac_expr(F.col("text")), 4).alias("f")
    ).collect()
    for r in rows:
        assert r["f"] == pytest.approx(
            ref_stats(CASES[r["doc_id"]])["dup_line_frac"], abs=1e-9
        ), CASES[r["doc_id"]]


def test_pipeline_dup_line_gate(spark, code_files_small):
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig

    cf, _ = code_files_small
    df = spark.createDataFrame(cf.iloc[:40])
    boiler = spark.createDataFrame(
        [
            ("repo_b", "boiler.py", "c0", "python",
             "x = 1\n" * 50 + "y = 2\n"),  # dup_line_frac ~ 49/51
            ("repo_b", "fine.py", "c1", "python",
             "\n".join(f"v{i} = {i}" for i in range(40))),
        ],
        df.select("repo", "path", "commit", "lang", "content").schema,
    )
    df = df.select("repo", "path", "commit", "lang", "content").unionByName(boiler)

    gated, _ = CleanPipeline(
        spark, PipelineConfig(dup_line_frac_max=0.30)
    ).run(df)
    paths = {r["path"] for r in gated.select("path").collect()}
    assert "boiler.py" not in paths and "fine.py" in paths
    assert "dup_line_frac" in gated.columns

    # inventory mode: column present, nothing filtered
    inv, _ = CleanPipeline(
        spark, PipelineConfig(with_repetition_columns=True)
    ).run(df)
    assert inv.count() == df.count()
    b = inv.filter(F.col("path") == "boiler.py").select("dup_line_frac").collect()[0][0]
    assert b > 0.9


def test_pipeline_gate_plan_stays_clean(
    spark, code_files_small, assert_jvm_scorer_plan, parquet_input
):
    """The gate is a native projection+filter: still no Python stage, the
    JVM scorer once, no lambda HOFs de-codegening the projection
    (array_distinct is not a lambda HOF)."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig

    cf, _ = code_files_small
    result, _ = CleanPipeline(
        spark, PipelineConfig(dup_line_frac_max=0.30)
    ).run(parquet_input(cf.iloc[:30]))
    result.collect()
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert_jvm_scorer_plan(result)
    assert "lambdafunction" not in plan

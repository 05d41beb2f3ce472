"""Comment stripping / comment-ratio (X22): language scoping, ordering
(block before line markers), the Python mirror, and codegen residency."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.functions.code_comments import (
    comment_ratio_expr,
    comments_python,
    strip_comments_expr,
)

CASES = [
    # (content, lang, expected_stripped)
    ("# top\nx = 1  # tail\n", "python", "\nx = 1  \n"),
    ("x = 1 // not a python comment\n", "python", "x = 1 // not a python comment\n"),
    ("/* a\nb */int x; // c\n", "c", "int x; \n"),
    # block stripped FIRST: the // inside the block can't leave a dangling marker
    ("/* keep // inside */done\n", "javascript", "done\n"),
    ("# hash kept in markdown\n", "markdown", "# hash kept in markdown\n"),
    ("code\n", "go", "code\n"),
    # unknown lang → all families
    ("# a\n// b\n/* c */d\n", "ruby", "\n\nd\n"),
]


def test_strip_comments_matches_python_mirror(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {"content": [c for c, _l, _e in CASES], "lang": [l for _c, l, _e in CASES]}
        )
    )
    got = df.select(
        "content", "lang",
        strip_comments_expr(F.col("content"), F.col("lang")).alias("s"),
    ).collect()
    for (content, lang, expected), row in zip(CASES, got):
        assert row.s == expected, (lang, content)
        assert comments_python(content, lang) == expected, (lang, content)


def test_comment_ratio_and_features(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"content": ["# all comment", "x = 1\n", ""],
                      "lang": ["python", "python", "python"]})
    )
    out = df.select(
        comment_ratio_expr(F.col("content"), F.col("lang")).alias("comment_ratio")
    ).collect()
    assert out[0].comment_ratio == 1.0
    assert out[1].comment_ratio == 0.0
    assert out[2].comment_ratio == 0.0  # empty → 0, not NaN


def test_comment_exprs_stay_in_codegen(spark, tmp_path):
    import re

    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, _ = write_fixture(str(tmp_path / "fx"), 200)
    df = spark.read.parquet(cf_path).select(
        comment_ratio_expr(F.col("content"), F.col("lang")).alias("comment_ratio")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
    assert re.search(r"\*\(\d+\) Project", plan), plan[:1500]

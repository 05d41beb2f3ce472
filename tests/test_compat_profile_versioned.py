"""Compat facade and full table profiling."""

from __future__ import annotations

import pandas as pd


def test_table_cleaner_compat(spark):
    from llm_tab_cleaner_spark.compat import TableCleaner

    pdf = pd.DataFrame(
        {
            "email": ["A@B.COM", "n/a", "x@y.org"],
            "state": ["California", "tx", "Unknown"],
        }
    )
    cleaner = TableCleaner(confidence_threshold=0.85)
    cleaned, report = cleaner.clean(spark.createDataFrame(pdf))
    out = cleaned.toPandas()
    assert "CA" in set(out.state)
    assert report.total_files == 3
    assert report.rule_counts  # fixes were recorded
    assert 0 <= report.quality_score <= 1


def test_spark_cleaner_compat(spark, code_files_small, tmp_path):
    from llm_tab_cleaner_spark.compat import SparkCleaner

    cf, _ = code_files_small
    rep = SparkCleaner(parallelism=8).clean_distributed(
        spark.createDataFrame(cf.iloc[:300]), str(tmp_path / "out"), str(tmp_path / "audit")
    )
    assert rep.total_files == 300 and rep.kept > 0
    assert spark.read.parquet(str(tmp_path / "out")).count() == rep.kept
    assert spark.read.parquet(str(tmp_path / "audit")).count() > 0


def test_profile_table(spark):
    from llm_tab_cleaner_spark.operators.profiler import profile_table

    pdf = pd.DataFrame(
        {
            "id": [1, 2, 2, 4, 5],
            "name": ["a", "b", "b", None, "e"],
            "constant": ["k"] * 5,
            "mostly_null": [None, None, None, None, "x"],
        }
    )
    prof = profile_table(spark.createDataFrame(pdf))
    assert prof.row_count == 5 and prof.column_count == 4
    assert prof.columns["id"].unique_count == 4
    assert prof.columns["id"].mean == 2.8
    assert prof.columns["name"].null_count == 1
    assert "constant_column" in prof.columns["constant"].issues
    assert "high_null_percentage" in prof.columns["mostly_null"].issues
    assert prof.duplicate_rows == 1  # the repeated (2, "b", "k", None) row
    assert 0 < prof.overall_quality_score <= 1
    assert prof.total_issues >= 2

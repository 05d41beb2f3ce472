"""CLI e2e (reference cli.py:135-275 surface): csv round-trip, report JSON,
arg validation, profile command."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from llm_tab_cleaner_spark import cli


@pytest.fixture(scope="module")
def csv_in(tmp_path_factory):
    p = tmp_path_factory.mktemp("cli") / "messy.csv"
    pd.DataFrame(
        {
            "name": ["  Bob  ", "alice", "N/A"],
            "email": ["BOB@TEST.COM", "alice@x.org", "none"],
            "price": ["$1,200", "15", "7"],
        }
    ).to_csv(p, index=False)
    return str(p)


def test_clean_csv_round_trip(spark, csv_in, tmp_path):
    out = str(tmp_path / "cleaned.csv")
    audit = str(tmp_path / "audit.pq")
    cli.main(
        [
            "clean", csv_in, "--output", out, "--confidence-threshold", "0.8",
            "--save-report", "--audit", audit, "--verbose",
        ],
        spark=spark,
    )
    got = spark.read.option("header", True).csv(out).toPandas()
    assert set(got.name.fillna("∅")) == {"Bob", "alice", "∅"}  # trim + nullish
    assert "1200" in set(got.price)  # currency strip
    report = json.load(open(out + ".report.json"))
    assert report["total_files"] == 3
    assert report["rule_counts"].get("trim_whitespace") == 1
    a = spark.read.parquet(audit).toPandas()
    assert {"column", "rule_fired", "confidence", "original", "cleaned"} <= set(a.columns)
    assert len(a) >= 3


def test_clean_validation_errors(spark, csv_in, capsys):
    with pytest.raises(SystemExit):
        cli.main(["clean", csv_in, "--sample-rate", "1.5"], spark=spark)
    assert "Sample rate" in capsys.readouterr().err
    with pytest.raises(SystemExit):
        cli.main(["clean", csv_in, "--confidence-threshold", "-1"], spark=spark)
    assert "Confidence threshold" in capsys.readouterr().err
    with pytest.raises(SystemExit):
        cli.main(["clean", "/nonexistent.csv"], spark=spark)
    assert "not found" in capsys.readouterr().err


def test_profile_command(spark, csv_in, tmp_path, capsys):
    out = str(tmp_path / "profile.json")
    cli.main(["profile", csv_in, "--output", out], spark=spark)
    prof = json.load(open(out))
    assert prof["row_count"] == 3
    assert prof["column_count"] == 3
    assert "name" in prof["columns"]


def test_quality_filter_mode(spark, tmp_path, code_files_small):
    cf, _ = code_files_small
    src = str(tmp_path / "files.parquet")
    spark.createDataFrame(cf.iloc[:80]).write.parquet(src)
    out = str(tmp_path / "kept.parquet")
    cli.main(
        ["clean", src, "--output", out, "--mode", "quality-filter", "--save-report"],
        spark=spark,
    )
    kept = spark.read.parquet(out)
    assert 0 < kept.count() <= 80
    assert "content_sha256" in kept.columns
    report = json.load(open(out + ".report.json"))
    assert report["total_files"] == 80


def test_clean_with_hash_sample_key(spark, tmp_path, code_files_small):
    """--sample-key switches P13 sampling to the deterministic md5-fraction
    filter: two runs select the identical row set."""
    cf, _ = code_files_small
    src = str(tmp_path / "hs.parquet")
    spark.createDataFrame(cf.iloc[:100]).write.parquet(src)
    outs = []
    for i in range(2):
        out = str(tmp_path / f"hs_out{i}.parquet")
        cli.main(
            ["clean", src, "--output", out, "--mode", "quality-filter",
             "--sample-rate", "0.5", "--sample-key", "path"],
            spark=spark,
        )
        outs.append(sorted(r.path for r in spark.read.parquet(out).select("path").collect()))
    assert outs[0] == outs[1] and 0 < len(outs[0]) < 100

"""run_and_write's report and audit against reference implementations.

The report is observed during the output write and ``audit_trail`` is one
posexplode; the references below compute both the straightforward way (an
agg plus an explode/groupBy of ``rules_fired``; a union of a rule explode
and a scrub explode) and must agree with them.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

KEYS = ["repo", "path", "commit"]


@pytest.fixture(scope="module")
def fixture_df(spark, tmp_path_factory):
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, labels_path = write_fixture(str(tmp_path_factory.mktemp("rw")), 400)
    return spark.read.parquet(cf_path), spark.read.parquet(labels_path)


def _reference_report(result) -> dict:
    row = result.agg(
        F.count("*").alias("total"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum(F.col("scrubbed").cast("long")).alias("scrubbed"),
        F.avg("confidence").alias("avg_conf"),
    ).collect()[0]
    rule_rows = (
        result.select(F.explode("rules_fired").alias("f"))
        .filter(F.col("f").isNotNull())
        .groupBy(F.col("f.rule").alias("rule"))
        .count()
        .collect()
    )
    total = row["total"] or 0
    kept = row["kept"] or 0
    return {
        "total_files": total,
        "kept": kept,
        "dropped": total - kept,
        "scrubbed": row["scrubbed"] or 0,
        "avg_confidence": float(row["avg_conf"] or 0.0),
        "rule_counts": {r["rule"]: r["count"] for r in rule_rows},
    }


def _assert_report_equals(report, ref: dict) -> None:
    for k in ("total_files", "kept", "dropped", "scrubbed", "rule_counts"):
        assert getattr(report, k) == ref[k], k
    assert report.avg_confidence == pytest.approx(ref["avg_confidence"], abs=1e-12)


def _reports(spark, df, tmp_path):
    """The report three ways plus the reference, all over ``df``."""
    from llm_tab_cleaner_spark import CleanPipeline

    with_audit = CleanPipeline(spark).run_and_write(
        df, str(tmp_path / "out_a"), str(tmp_path / "audit_a")
    )
    without_audit = CleanPipeline(spark).run_and_write(df, str(tmp_path / "out_b"))
    pipe = CleanPipeline(spark)
    result, _ = pipe.run(df)
    return [with_audit, without_audit, pipe.report(result)], _reference_report(result)


def test_observed_report_matches_reference(spark, fixture_df, tmp_path):
    from llm_tab_cleaner_spark.functions.scoring import default_model
    from llm_tab_cleaner_spark.operators.quality_filter import drop_rule_confidences

    df, _ = fixture_df
    reports, ref = _reports(spark, df, tmp_path)
    assert ref["kept"] and ref["dropped"] and ref["scrubbed"]
    assert ref["rule_counts"]
    for report in reports:
        _assert_report_equals(report, ref)
    for report in reports[1:]:
        assert report.quality_score == pytest.approx(reports[0].quality_score, abs=1e-12)
    assert set(ref["rule_counts"]) <= set(drop_rule_confidences(default_model()))


def test_observed_report_omits_rules_that_never_fired(spark, fixture_df, tmp_path):
    from llm_tab_cleaner_spark.functions.scoring import default_model
    from llm_tab_cleaner_spark.operators.quality_filter import drop_rule_confidences

    df, labels = fixture_df
    some = labels.filter(F.col("label_class").isin("normal", "minified")).select(*KEYS)
    reports, ref = _reports(spark, df.join(some, KEYS, "left_semi"), tmp_path)
    rules = set(drop_rule_confidences(default_model()))
    assert 0 < len(ref["rule_counts"]) < len(rules), ref["rule_counts"]
    for report in reports:
        _assert_report_equals(report, ref)
        assert 0 not in report.rule_counts.values()


def test_observed_report_of_empty_input_is_zero(spark, fixture_df, tmp_path):
    df, _ = fixture_df
    reports, ref = _reports(spark, df.filter(F.lit(False)), tmp_path)
    for report in reports:
        _assert_report_equals(report, ref)
        assert (report.total_files, report.kept, report.dropped, report.scrubbed) == (0, 0, 0, 0)
        assert report.avg_confidence == 0.0 and report.quality_score == 0.0
        assert report.rule_counts == {}


def _reference_audit(result):
    """The audit as a union of two explodes: fired drop rules, then the
    scrub families of scrubbed rows."""
    keys = [F.col(k) for k in KEYS]
    lineage = [
        F.col("content_sha256").alias("before_sha256"),
        F.col("clean_sha256").alias("after_sha256"),
        F.col("partition_id"),
    ]
    rule_rows = (
        result.select(*keys, F.explode("rules_fired").alias("f"), F.col("keep"), *lineage)
        .filter(F.col("f").isNotNull())
        .select(
            *keys,
            F.col("f.rule").alias("rule_fired"),
            F.col("f.confidence").alias("confidence"),
            F.when(F.col("keep"), F.lit("keep")).otherwise(F.lit("drop")).alias("decision"),
            "before_sha256", "after_sha256", "partition_id",
        )
    )
    scrub_rows = (
        result.filter(F.col("scrubbed"))
        .select(
            *keys,
            F.explode("scrub_rules").alias("rule_fired"),
            F.lit(1.0).alias("confidence"),
            F.lit("scrub").alias("decision"),
            *lineage,
        )
        .filter(F.col("rule_fired").isNotNull())
    )
    return rule_rows.unionByName(scrub_rows)


def test_one_pass_audit_matches_union_reference(spark, fixture_df):
    from llm_tab_cleaner_spark import CleanPipeline
    from llm_tab_cleaner_spark.operators.quality_filter import audit_trail

    df, _ = fixture_df
    result, audit = CleanPipeline(spark).run(df)
    plan = audit._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan[:2000]
    assert "lambdafunction" not in plan, plan[:2000]

    result = result.localCheckpoint(eager=True)  # one scoring for both sides
    audit = audit_trail(result)
    ref = _reference_audit(result)
    assert audit.columns == ref.columns

    def rows(d) -> pd.DataFrame:
        return d.toPandas().sort_values(audit.columns).reset_index(drop=True)

    got, want = rows(audit), rows(ref)
    assert set(want.decision) == {"keep", "drop", "scrub"}
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("failing", ["output", "audit"])
def test_run_and_write_unpersists_when_a_write_raises(spark, fixture_df, tmp_path, failing):
    from llm_tab_cleaner_spark import CleanPipeline

    df, _ = fixture_df
    blocker = tmp_path / "blocker"
    blocker.write_text("a regular file, so no directory can be made under it")
    bad = str(blocker / "out")
    out, audit = (bad, str(tmp_path / "audit")) if failing == "output" else (
        str(tmp_path / "out"), bad
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    with pytest.raises(Exception):
        CleanPipeline(spark).run_and_write(df, out, audit)
    assert cache.isEmpty()


def _first_half(df):
    return df.filter(F.xxhash64(*KEYS) % 2 == 0)


def test_two_state_mode_runs_equal_single_shot(spark, fixture_df, tmp_path):
    """Two state-mode ``run_and_write`` calls, the second over a superset:
    the second scores only rows whose content hash the first did not
    commit, the output holds every scored kept row once, and each scored
    row's keep/confidence/clean_sha256 equal a single batch run's."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig

    df, _ = fixture_df
    first = _first_half(df)
    pipe = CleanPipeline(spark, PipelineConfig(state_dir=str(tmp_path / "state")))
    out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
    reports = [pipe.run_and_write(d, out, audit) for d in (first, df)]

    single, _ = CleanPipeline(spark).run(df)
    ps = single.select(*KEYS, "content_sha256", "keep", "confidence", "clean_sha256").toPandas()
    in_first = ps.set_index(KEYS).index.isin(first.select(*KEYS).toPandas().set_index(KEYS).index)
    scored = ps[in_first | ~ps.content_sha256.isin(ps.content_sha256[in_first])]
    assert reports[0].total_files == in_first.sum()
    assert reports[1].total_files == len(scored) - in_first.sum() > 0
    assert len(pipe.state.committed_batches()) == 2

    def rows(frame, cols):
        return frame[cols].sort_values(cols).reset_index(drop=True)

    cols = KEYS + ["confidence", "clean_sha256"]
    written = spark.read.parquet(out).toPandas()
    assert not written.duplicated(KEYS).any()
    pd.testing.assert_frame_equal(rows(written, cols), rows(scored[scored.keep], cols))
    state = pipe.state.processed(spark).toPandas()
    cols = ["content_sha256", "keep", "confidence"]
    pd.testing.assert_frame_equal(rows(state, cols), rows(scored, cols))
    dropped = spark.read.parquet(audit).filter("decision = 'drop'").select(*KEYS).distinct()
    assert dropped.count() == (~scored.keep).sum()


@pytest.mark.parametrize("failing", ["output", "audit"])
def test_state_mode_commits_only_after_its_writes(spark, fixture_df, tmp_path, failing):
    """State mode commits last: a sink that cannot be written raises, the
    manifest keeps its batches, no cache is left, and the rerun scores the
    same rows. The output is at-least-once: a failed audit write leaves the
    appended output behind, and the rerun appends those rows again."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig

    df, _ = fixture_df
    pipe = CleanPipeline(spark, PipelineConfig(state_dir=str(tmp_path / "state")))
    out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
    pipe.run_and_write(_first_half(df), out, audit)
    committed = pipe.state.committed_batches()
    kept_first = spark.read.parquet(out).count()

    blocker = tmp_path / "blocker"
    blocker.write_text("a regular file, so no directory can be made under it")
    bad = str(blocker / "sink")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    sinks = (bad, audit) if failing == "output" else (out, bad)
    with pytest.raises(Exception):
        pipe.run_and_write(df, *sinks)
    assert cache.isEmpty()
    assert pipe.state.committed_batches() == committed

    seen = set(pipe.state.processed(spark).toPandas().content_sha256)
    hashes = df.select(F.sha2("content", 256).alias("h")).toPandas().h
    report = pipe.run_and_write(df, out, audit)
    assert report.total_files == (~hashes.isin(seen)).sum() > 0
    assert len(pipe.state.committed_batches()) == 2
    written = spark.read.parquet(out).count()
    assert written == kept_first + report.kept * (2 if failing == "audit" else 1)

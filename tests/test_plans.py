"""Physical-plan guards — the 100 TB story in assertions (SURVEY.md §7 risks):
zero per-row Python, pushdown reaches the scan, no Python stage in the
pipeline (the scorer is one JVM UDF, evaluated once)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_python_stage_single_jvm_scorer(
    spark, code_files_small, assert_jvm_scorer_plan, parquet_input
):
    from llm_tab_cleaner_spark import CleanPipeline

    cf, _ = code_files_small
    result, _ = CleanPipeline(spark).run(parquet_input(cf.iloc[:50]))
    result.collect()
    plan = _plan(result)
    # no Python eval node; the scorer once; no lambda HOFs (they de-codegen
    # the whole projection)
    assert_jvm_scorer_plan(result)
    assert "lambdafunction" not in plan


def test_keep_filter_has_no_heavy_expression_duplication(spark, tmp_path, assert_jvm_scorer_plan):
    """Round-2 regression guard: filtering on `keep` must NOT re-evaluate
    heavy text expressions — Catalyst's predicate pushdown inlines derived
    predicates in terms of base columns, and with Column-expression features
    the executed Filter contained split(ws_strip(content)) 6+ times per row
    (~3× the whole pipeline's cost). The token/alnum stats now come from the
    scorer UDF (a nondeterministic Project a filter is never pushed
    through), so the optimized keep-count plan must contain ZERO
    split/array_distinct/regexp_replace; the only regex left is the
    single-scan long-line feature."""
    import re as _re

    from llm_tab_cleaner_spark import CleanPipeline
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, _ = write_fixture(str(tmp_path / "fxp"), 300)
    df = spark.read.parquet(cf_path)
    result, _ = CleanPipeline(spark).run(df)
    q = result.filter("keep").groupBy().count()
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 0, plan[:2000]
    assert plan.count("array_distinct") == 0
    # is_nullish comes from the scorer UDF for every file, whatever its
    # length, so no ws_strip regexp_replace is left in the keep filter
    assert plan.count("regexp_replace") == 0, plan[:2000]
    assert_jvm_scorer_plan(result)


def test_filter_pushdown_reaches_parquet_scan(spark, tmp_path):
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, _ = write_fixture(str(tmp_path / "fx"), 500)
    df = spark.read.parquet(cf_path).filter(F.col("repo") == "repo_giant").select("repo", "path")
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*repo.*\]", plan), plan
    # column pruning: content (the fat column) must NOT be in ReadSchema
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "content" not in m.group(1), m.group(0) if m else plan


def test_whole_stage_codegen_covers_rules(spark, tmp_path):
    """The native rule/feature exprs must be inside WholeStageCodegen spans.
    (A createDataFrame local relation gets constant-folded to LocalTableScan,
    so use a parquet scan — the real input shape.)"""
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture
    from llm_tab_cleaner_spark.functions import text_features as TF

    cf_path, _ = write_fixture(str(tmp_path / "fx2"), 200)
    out = spark.read.parquet(cf_path)
    for name, expr in TF.feature_columns(F.col("content")).items():
        out = out.withColumn(name, expr)
    plan = _plan(out)
    # codegen'd operators print with a "*(n)" stage marker; an interpreted
    # Project (e.g. if a lambda HOF sneaks back in) prints bare
    assert re.search(r"\*\(\d+\) Project", plan), plan[:1500]
    assert "lambdafunction" not in plan


def test_apply_rules_projection_is_codegen(spark):
    """Round-3 VERDICT #2: apply_rules' winner selection is greatest(), not
    array_max∘filter — one lambda HOF would force the whole collapsed
    tabular-rules Project interpreted (CLAUDE.md rule). Guard both the
    cleaned projection and the audit explode."""
    from llm_tab_cleaner_spark.operators.rules import apply_rules

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    applied = apply_rules(df, key_cols=["c_custkey"])
    for d in (applied.cleaned, applied.audit):
        plan = _plan(d)
        assert "lambdafunction" not in plan, plan[:2000]
    # the cleaned projection re-enters whole-stage codegen
    assert re.search(r"\*\(\d+\) Project", _plan(applied.cleaned))


def test_comment_features_strip_chain_evaluated_once(spark, tmp_path):
    """Round-4 VERDICT nit: with_comment_features derives the ratio from the
    content_nocomments COLUMN, so CollapseProject declines to inline it (a
    non-cheap expression referenced twice) — the executed plan must show the
    regex strip chain exactly ONCE, both Projects inside one codegen span,
    no lambda HOFs."""
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture
    from llm_tab_cleaner_spark.functions.code_comments import with_comment_features

    cf_path, _ = write_fixture(str(tmp_path / "fxc"), 200)
    out = with_comment_features(spark.read.parquet(cf_path))
    plan = _plan(out)
    assert "lambdafunction" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the language when-chain (the strip build) appears exactly once: the
    # ratio references the column, it does not rebuild the chain
    assert plan.count("CASE WHEN (lang") == 1, plan[:2500]
    # every Project is codegen-resident (no bare interpreted Project)
    assert len(re.findall(r"\*\(\d+\) Project", plan)) == len(
        re.findall(r"\bProject\b", plan)
    ), plan[:2500]


def test_license_chain_codegen(spark, tmp_path):
    """The license when-chain (bounded-substring contains chains + one
    anchored SPDX regex) must stay a single codegen-resident projection."""
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture
    from llm_tab_cleaner_spark.functions.licensing import with_license

    cf_path, _ = write_fixture(str(tmp_path / "fxl"), 200)
    out = with_license(spark.read.parquet(cf_path))
    plan = _plan(out)
    assert "lambdafunction" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"\bProject\b", plan)) == 1, plan[:2000]
    assert re.search(r"\*\(\d+\) Project", plan), plan[:1500]


def test_pipeline_corpus_stages_no_python_stage(
    spark, code_files_small, assert_jvm_scorer_plan, parquet_input
):
    """Pipeline with the opt-in license gate + comment ratio ON must keep
    the plan shape: no Python stage, the JVM scorer once, no lambda HOFs
    (round-4 VERDICT #5's done-bar)."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig

    cf, _ = code_files_small
    pipe = CleanPipeline(
        spark,
        PipelineConfig(license_allow=("permissive", "none"), with_comment_ratio=True),
    )
    result, _ = pipe.run(parquet_input(cf.iloc[:50]))
    result.collect()
    plan = _plan(result)
    assert_jvm_scorer_plan(result)
    assert "lambdafunction" not in plan


def test_topk_uses_take_ordered(spark):
    """Top-k must compile to TakeOrderedAndProject (no global sort)."""
    from llm_tab_cleaner_spark.operators.profiler import topk_values

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = _plan(topk_values(df, "l_partkey", 10))
    assert "TakeOrderedAndProject" in plan


def test_broadcast_join_for_small_dims(spark):
    import __spark_entry__ as entry

    df = entry.queries()["region_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_anti_join_resume_is_not_cartesian(spark, code_files_small, tmp_path):
    from pyspark.sql import functions as F2
    from llm_tab_cleaner_spark.sources.state import StateStore

    cf, _ = code_files_small
    store = StateStore(str(tmp_path / "st"))
    df = spark.createDataFrame(cf.iloc[:100]).withColumn(
        "content_sha256", F2.sha2(F2.col("content"), 256)
    )
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig

    pipe = CleanPipeline(spark, PipelineConfig(state_dir=str(tmp_path / "st")))
    pipe.run_incremental(spark.createDataFrame(cf.iloc[:100]), "b1")
    fresh = store.filter_new(df, spark)
    plan = _plan(fresh)
    assert "LeftAnti" in plan and "Cartesian" not in plan


def test_filter_new_has_no_aggregate_on_state_side(spark, tmp_path):
    """A left-anti join needs no distinct state: the plan has no aggregate
    (distinct() planned HashAggregate → Exchange → HashAggregate over all
    state hashes), and a hash committed twice still drops its row once,
    never duplicates it."""
    from pyspark.sql import functions as F2

    from llm_tab_cleaner_spark.sources.state import StateStore

    store = StateStore(str(tmp_path / "st"))
    rows = spark.createDataFrame([(f"h{i}",) for i in range(6)], "content_sha256 string")
    done = rows.filter(F2.col("content_sha256").isin("h0", "h1", "h2"))
    for batch in ("a", "b"):  # the same hashes in two batches
        store.commit(
            done.withColumn("confidence", F2.lit(0.9)).withColumn("keep", F2.lit(True)), batch
        )
    fresh = store.filter_new(rows, spark)
    optimized = fresh._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in optimized, optimized
    assert "HashAggregate" not in _plan(fresh) and "LeftAnti" in _plan(fresh)
    assert sorted(r[0] for r in fresh.collect()) == ["h3", "h4", "h5"]


def _run_and_write_jobs_and_nodes(spark, df, tmp_path, audit: bool):
    """(job count, [(name, description)] of the output write's executed
    plan nodes) of one ``run_and_write``; jobs are counted with a
    statusTracker job group, the plan is read back from the SQL status
    store."""
    from llm_tab_cleaner_spark import CleanPipeline

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    group = f"run-and-write-{audit}"
    since = store.executionsCount()
    sc.setJobGroup(group, group)
    try:
        CleanPipeline(spark).run_and_write(
            df, str(tmp_path / f"out{audit}"), str(tmp_path / f"audit{audit}") if audit else None
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    execs = store.executionsList()
    first_write = None
    for i in range(since, execs.size()):
        graph = store.planGraph(execs.apply(i).executionId()).allNodes()
        nodes = [(graph.apply(k).name(), graph.apply(k).desc()) for k in range(graph.size())]
        if any("InsertIntoHadoopFsRelationCommand" in n for n, _ in nodes):
            first_write = nodes
            break
    return jobs, first_write


def test_run_and_write_jobs_and_observed_single_scorer_plan(spark, tmp_path):
    """The report is observed during the output write (a CollectMetrics
    node, no job of its own) and ``result`` is persisted only for the audit
    write: 2 jobs with an audit path, 1 without. Without one, the output
    write has no Python stage, evaluates the JVM scorer once, and reads no
    cache."""
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, _ = write_fixture(str(tmp_path / "fxw"), 300)
    df = spark.read.parquet(cf_path)
    jobs, _ = _run_and_write_jobs_and_nodes(spark, df, tmp_path, audit=True)
    assert jobs == 2
    jobs, nodes = _run_and_write_jobs_and_nodes(spark, df, tmp_path, audit=False)
    assert jobs == 1
    assert nodes is not None
    names = [n for n, _ in nodes]
    assert not any("EvalPython" in n for n in names), names
    assert sum(d.count("llm_tab_cleaner_score_") for _, d in nodes) == 1, nodes
    assert names.count("CollectMetrics") == 1, names
    assert "InMemoryTableScan" not in names, names


_SIGNATURE_ENTRIES = {
    "minhash_pairs": "llm_tab_cleaner_minhash_",
    "simhash_pairs": "llm_tab_cleaner_simhash_",
    "embedding_near_dup": "llm_tab_cleaner_hyperplanes_",
    "lsh_topk": "llm_tab_cleaner_hyperplanes_",
}


@pytest.mark.parametrize("entry", sorted(_SIGNATURE_ENTRIES))
def test_signature_entries_have_no_python_stage(spark, entry):
    """The near-dup and LSH entries run their signature kernels as Java
    UDFs: no query the entry runs (signature checkpoint, bucket-cap
    collect, result) plans a Python stage, and the signature UDF is
    evaluated in exactly one plan node across all of them."""
    import __spark_entry__ as E

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    before = execution_ids()
    out = E.queries()[entry](spark, "/root/testdata/sf0.001")
    out.collect()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    nodes = []
    for eid in sorted(execution_ids() - before):
        graph = store.planGraph(eid).allNodes()
        nodes += [(graph.apply(k).name(), graph.apply(k).desc()) for k in range(graph.size())]
    names = [n for n, _ in nodes]
    assert not {"ArrowEvalPython", "BatchEvalPython", "MapInPandas"} & set(names), names
    assert sum(d.count(_SIGNATURE_ENTRIES[entry]) for _, d in nodes) == 1, nodes

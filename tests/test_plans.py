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
    for name in (
        "n_chars", "has_long_line", "n_tokens", "n_distinct_tokens",
        "unique_token_ratio", "alnum_ratio", "is_nullish", "is_autogen",
    ):
        out = out.withColumn(name, getattr(TF, name)(F.col("content")))
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


def _jobs_and_plans(spark, group: str, action):
    """(job count, one node list per SQL execution) of ``action()``. Jobs
    are counted with a statusTracker job group; each execution's plan is
    read back from the SQL status store as [(name, description, {metric
    name: value})], holding the metrics the execution's tasks updated."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    since = store.executionsCount()
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    execs = store.executionsList()
    plans = []
    for i in range(since, execs.size()):
        eid = execs.apply(i).executionId()
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid).allNodes()
        nodes = []
        for k in range(graph.size()):
            node = graph.apply(k)
            metrics = {}
            for m in (node.metrics().apply(j) for j in range(node.metrics().size())):
                value = values.get(m.accumulatorId())
                if value.isDefined():
                    metrics[m.name()] = value.get()
            nodes.append((node.name(), node.desc(), metrics))
        plans.append(nodes)
    return jobs, plans


def _run_and_write_jobs_and_nodes(spark, df, tmp_path, audit: bool):
    """(job count, [(name, description)] of the output write's executed
    plan nodes) of one batch-mode ``run_and_write``."""
    from llm_tab_cleaner_spark import CleanPipeline

    jobs, plans = _jobs_and_plans(
        spark,
        f"run-and-write-{audit}",
        lambda: CleanPipeline(spark).run_and_write(
            df, str(tmp_path / f"out{audit}"), str(tmp_path / f"audit{audit}") if audit else None
        ),
    )
    writes = [p for p in plans if any("InsertIntoHadoopFsRelationCommand" in n for n, _, _ in p)]
    return jobs, [(n, d) for n, d, _ in writes[0]] if writes else None


def _scanned_rows(plan) -> int:
    """Rows the plan's parquet scans produced in this execution: a scan
    under an ``InMemoryTableScan`` whose cache was already built reports
    none."""
    return sum(
        int(m.get("number of output rows", "0").replace(",", ""))
        for n, _, m in plan
        if n.startswith("Scan parquet")
    )


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


def test_state_mode_run_and_write_is_three_jobs_over_one_cache(spark, tmp_path):
    """State mode with an audit path: output, audit and state commit are one
    job each over one persisted ``result``. Only the first plan scans (and
    so scores) the input; the audit and commit read the cache. With no
    batch committed yet, no resume join is planned."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, _ = write_fixture(str(tmp_path / "fxs"), 300)
    df = spark.read.parquet(cf_path)
    pipe = CleanPipeline(spark, PipelineConfig(state_dir=str(tmp_path / "state")))
    jobs, plans = _jobs_and_plans(
        spark,
        "run-and-write-state",
        lambda: pipe.run_and_write(df, str(tmp_path / "out"), str(tmp_path / "audit")),
    )
    assert jobs == 3 and len(plans) == 3
    for plan in plans:
        names = [n for n, _, _ in plan]
        assert any("InsertIntoHadoopFsRelationCommand" in n for n in names), names
        assert "InMemoryTableScan" in names, names
        assert not any("Join" in n for n in names), names
    assert [_scanned_rows(p) for p in plans] == [300, 0, 0]
    assert len(pipe.state.committed_batches()) == 1


def test_run_incremental_materializes_with_the_commit_write(spark, tmp_path):
    """``run_incremental``'s state commit write is its only job: it builds
    the persisted ``result`` (no separate count job) and scans the input
    once."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig
    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, _ = write_fixture(str(tmp_path / "fxi"), 300)
    df = spark.read.parquet(cf_path)
    pipe = CleanPipeline(spark, PipelineConfig(state_dir=str(tmp_path / "state")))
    out = []
    jobs, plans = _jobs_and_plans(
        spark, "run-incremental", lambda: out.append(pipe.run_incremental(df, "b1"))
    )
    result = out[0][0]
    try:
        assert jobs == 1 and len(plans) == 1
        assert _scanned_rows(plans[0]) == 300
        assert result.count() == 300
    finally:
        result.unpersist()


def _max_generated_method(spark, df) -> int:
    """Bytes of the largest generated method over the whole-stage-codegen
    stages of ``df``'s executed plan."""
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    stages = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    return max(stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size()))


def test_scrub_is_one_kernel_call(spark, code_files_small, parquet_input):
    """The scrub is one Java UDF call (jvm/Scrub.java): the optimized
    ``result``, ``audit_trail`` and ``result.filter("scrubbed")`` plans hold
    the kernel once (it is nondeterministic, so the filter is not pushed
    through it), no ``regexp_replace``, no ``lower(``, and no more ``RLIKE``
    than the keep-count plan."""
    from llm_tab_cleaner_spark import CleanPipeline

    cf, _ = code_files_small
    result, audit = CleanPipeline(spark).run(parquet_input(cf.iloc[:50]))

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    rlikes = optimized(result.filter("keep").groupBy().count()).count("RLIKE")
    for df in (result, audit, result.filter("scrubbed")):
        plan = optimized(df)
        assert plan.count("llm_tab_cleaner_scrub_") == 1, plan[:3000]
        assert "regexp_replace" not in plan and "lower(" not in plan, plan[:3000]
        assert plan.count("RLIKE") == rlikes, plan[:3000]


def test_run_and_write_stage_is_jit_sized(spark, code_files_small, parquet_input):
    """The output write of ``run_and_write`` (the same observe → keep filter
    → select) has no generated method at or over HotSpot's 8,000-byte JIT
    limit, above which the stage's per-row code would stay in the bytecode
    interpreter."""
    from pyspark.sql import Observation

    from llm_tab_cleaner_spark import CleanPipeline
    from llm_tab_cleaner_spark.plans.pipeline import _report_aggs

    cf, _ = code_files_small
    pipe = CleanPipeline(spark)
    result, _ = pipe.run(parquet_input(cf.iloc[:50]))
    written = (
        result.observe(Observation(), *_report_aggs(pipe._rule_names()))
        .filter(F.col("keep"))
        .select(
            "repo", "path", "commit", "lang", F.col("content_clean").alias("content"),
            "content_sha256", "clean_sha256", "confidence",
        )
    )
    assert _max_generated_method(spark, written) < 8000


#: entry → (its Java text/signature kernel, the plan nodes evaluating it)
_SIGNATURE_ENTRIES = {
    "minhash_pairs": ("llm_tab_cleaner_minhash_", 1),
    "simhash_pairs": ("llm_tab_cleaner_simhash_", 1),
    "embedding_near_dup": ("llm_tab_cleaner_hyperplanes_", 1),
    "lsh_topk": ("llm_tab_cleaner_hyperplanes_", 1),
    "ngram_jaccard": ("llm_tab_cleaner_ngrams_", 1),
    "winnow_pairs": ("llm_tab_cleaner_winnow_", 1),
    # one evaluation per input: the documents and the benchmark / target set
    "decontaminate": ("llm_tab_cleaner_ngrams_", 2),
    "dsir_weights": ("llm_tab_cleaner_ngrams_", 2),
    "dsir_select": ("llm_tab_cleaner_ngrams_", 2),
}


def _entry_nodes(spark, entry: str, collect: bool) -> list[tuple[str, str]]:
    """(name, description) of every plan node an entry runs at sf0.001: the
    SQL status store's plans of the jobs run while the entry is built (and,
    with ``collect``, while its result is collected), plus, without
    ``collect``, the returned frame's executed plan."""
    import __spark_entry__ as E

    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    before = execution_ids()
    out = E.queries()[entry](spark, "/root/testdata/sf0.001")
    nodes = []
    if collect:
        out.collect()
    else:
        for line in _plan(out).splitlines():
            m = re.match(r"[\s:|+\-*]*(?:\(\d+\)\s*)?(\w+)(.*)", line)
            if m:
                nodes.append((m.group(1), m.group(2)))
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    for eid in sorted(execution_ids() - before):
        graph = store.planGraph(eid).allNodes()
        nodes += [(graph.apply(k).name(), graph.apply(k).desc()) for k in range(graph.size())]
    return nodes


def _all_entries() -> list[str]:
    import __spark_entry__ as E

    return sorted(E.queries())


@pytest.mark.parametrize("entry", _all_entries())
def test_no_entry_plans_a_python_stage(spark, entry):
    """No ``queries()`` entry starts a Python worker: neither the jobs it
    runs while it is built (checkpoints, collects) nor its returned plan
    holds a Python eval, ``*InPandas`` or ``*InArrow`` node. The Python
    stages left in the package (user rule callables, ``multimodal``,
    ``streaming_exact_dedup``) are not reached from any entry."""
    names = [n for n, _ in _entry_nodes(spark, entry, collect=False)]
    assert names, entry
    python = [n for n in names if any(s in n for s in ("Python", "InPandas", "InArrow"))]
    assert not python, names


@pytest.mark.parametrize("entry", sorted(_SIGNATURE_ENTRIES))
def test_signature_entries_have_no_python_stage(spark, entry):
    """The near-dup, LSH, n-gram, winnowing and DSIR entries run their
    kernels as Java UDFs, evaluated once per input across every query the
    entry runs (checkpoints, bucket-cap collect, result). That no entry
    plans a Python stage is ``test_no_entry_plans_a_python_stage``."""
    nodes = _entry_nodes(spark, entry, collect=True)
    prefix, evaluations = _SIGNATURE_ENTRIES[entry]
    assert sum(d.count(prefix) for _, d in nodes) == evaluations, nodes


_PAIR_KERNEL_ENTRIES = {
    "cosine_topk": "llm_tab_cleaner_dot_",
    "knn_brute": "llm_tab_cleaner_dot_",
    "lsh_topk": "llm_tab_cleaner_dot_",
    "embedding_near_dup": "llm_tab_cleaner_dot_",
    "embedding_norms": "llm_tab_cleaner_dot_",
    "minhash_pairs": "llm_tab_cleaner_equal_slots_",
}


@pytest.mark.parametrize("entry", sorted(_PAIR_KERNEL_ENTRIES))
def test_pair_verify_entries_have_no_lambda_hof(spark, entry):
    """Every dot product, norm and equal-slot count is a Java UDF: the
    vector and pair-verify entries' optimized plans hold the kernel and no
    lambda HOF (an interpreted CodegenFallback per element per row)."""
    import __spark_entry__ as E

    out = E.queries()[entry](spark, E.SF_DEFAULT)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan, plan[:3000]
    assert _PAIR_KERNEL_ENTRIES[entry] in plan, plan[:3000]


def test_cosine_topk_evaluates_two_dot_kernels_per_row(spark):
    """The query's norm is a literal computed on the driver: per row only
    the dot with the query and the row's own norm call the dot kernel."""
    import __spark_entry__ as E

    out = E.queries()["cosine_topk"](spark, E.SF_DEFAULT)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("llm_tab_cleaner_dot_") == 2, plan[:3000]

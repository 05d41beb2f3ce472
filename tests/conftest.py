"""Shared fixtures. One session-scoped SparkSession (JVM start ≈25s in this
sandbox, codegen JIT ≈ first-use; see .claude/skills/verify/SKILL.md)."""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from llm_tab_cleaner_spark.session import build_session

    s = build_session(app_name="pytest", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def code_files_small():
    from llm_tab_cleaner_spark.fixtures.code_files import generate_code_files

    return generate_code_files(1500, seed=42)


@pytest.fixture(scope="session")
def scored_small(spark, code_files_small):
    """Run the full pipeline once; many tests share the collected result."""
    from llm_tab_cleaner_spark import CleanPipeline

    cf, labels = code_files_small
    pipe = CleanPipeline(spark)
    result, audit = pipe.run(spark.createDataFrame(cf))
    pdf = result.toPandas()
    merged = pdf.merge(labels, on=["repo", "path", "commit"], validate="1:1")
    return merged, audit


@pytest.fixture(scope="session")
def assert_jvm_scorer_plan():
    """Plan guard for a pipeline result: its executed plan has no Python
    eval node of any kind, and the JVM scorer appears exactly once in the
    optimized plan of ``result.filter("keep").groupBy().count()``. The
    scorer is registered nondeterministic, so Catalyst keeps it in one
    Project below the keep filter; registered deterministic, it would be
    inlined into the pushed-down filter and appear twice. The scorer owns
    its input contract: it reads the bare ``content`` column (no prefix
    ``substring`` column) and nothing recomputes null-ish next to it (no
    ``ws_strip`` regex). The result must read a file scan
    (``parquet_input``): the optimizer evaluates projections over a
    ``createDataFrame`` LocalRelation at planning time, which leaves no
    scorer in the plan to guard."""
    from llm_tab_cleaner_spark.functions import thresholds as TH

    def check(result) -> None:
        plan = result._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, plan[:2000]
        q = result.filter("keep").groupBy().count()
        opt = q._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("llm_tab_cleaner_score_") == 1, opt[:3000]
        scorer_on_content = (
            r"llm_tab_cleaner_score_[0-9a-f]+\(static_invoke\(Encode\.encode\(content#\d+, "
        )
        assert re.search(scorer_on_content, opt), opt[:3000]
        assert not re.search(rf"substring\([^()]*, {TH.SCORE_PREFIX_CHARS}\)", opt), opt[:3000]
        assert r"^\s+|\s+$" not in opt, opt[:3000]

    return check


@pytest.fixture
def parquet_input(spark, tmp_path):
    """pandas frame → DataFrame read back from parquet (a real scan)."""

    def read(pdf, schema=None):
        path = str(tmp_path / "parquet_input")
        spark.createDataFrame(pdf, schema).write.parquet(path)
        return spark.read.parquet(path)

    return read

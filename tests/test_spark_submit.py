"""spark-submit --py-files end-to-end (north_rule: "the whole job runs via
spark-submit --py-files with zero per-row Python").

The job script is COPIED to a temp dir before submission, so its
dev-convenience sys.path insert points away from the repo — the
llm_tab_cleaner_spark package must come from the built zip alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

_ROOT = Path(__file__).resolve().parents[1]


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


@pytest.fixture(scope="module")
def submit(tmp_path_factory):
    """Build the zip and the jar once; return ``run(*job_args)`` →
    the job's JSON summary (its last stdout line)."""
    import importlib.util

    tmp = tmp_path_factory.mktemp("submit")
    spec = importlib.util.spec_from_file_location(
        "jobs_package", str(_ROOT / "jobs" / "package.py")
    )
    pkg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pkg)
    zip_path = pkg.build(str(tmp / "llm_tab_cleaner_spark.zip"))
    jar_path = pkg.build_jar(str(tmp / "llm_tab_cleaner_spark-udfs.jar"))
    job = str(tmp / "run_quality_filter.py")
    shutil.copy(_ROOT / "jobs" / "run_quality_filter.py", job)
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def run(*job_args: str) -> dict:
        proc = subprocess.run(
            [
                _spark_submit(),
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                "--jars", jar_path,  # the JVM scorer and signature kernels
                job,
                *job_args,
            ],
            cwd=str(tmp),  # nothing repo-local on the path
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    return run


def test_spark_submit_py_files_e2e(tmp_path, spark, code_files_small, submit):
    cf, _ = code_files_small
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(cf.iloc[:120]).write.parquet(src)
    out = str(tmp_path / "out.parquet")
    rep = str(tmp_path / "report.json")

    summary = submit("--input", src, "--output", out, "--report", rep)
    assert summary["total"] == 120 and summary["batch_id"] is None
    assert 0 < summary["kept"] <= 120
    got = spark.read.parquet(out)
    assert got.count() == summary["kept"]
    assert {"content", "content_sha256", "clean_sha256", "confidence"} <= set(got.columns)
    report = json.load(open(rep))
    assert report["total_files"] == 120


def test_spark_submit_state_runs_append_then_commit(tmp_path, spark, code_files_small, submit):
    """Two ``--state`` runs, the second over a superset of the first input:
    the second scores only rows with unseen content, and the output, audit
    and metrics sinks and the state manifest hold both runs."""
    from llm_tab_cleaner_spark.sources.state import StateStore

    cf, _ = code_files_small
    cf = cf.iloc[:160]
    sinks = {k: str(tmp_path / k) for k in ("output", "audit", "metrics", "state")}
    args = [f"--{k}={v}" for k, v in sinks.items()]
    summaries = []
    for n in (80, 160):
        src = str(tmp_path / f"in{n}.parquet")
        spark.createDataFrame(cf.iloc[:n]).write.parquet(src)
        summaries.append(submit("--input", src, *args))

    seen = {hashlib.sha256(c.encode()).hexdigest() for c in cf.content.iloc[:80]}
    fresh = sum(hashlib.sha256(c.encode()).hexdigest() not in seen for c in cf.content.iloc[80:])
    assert summaries[0]["total"] == 80
    assert summaries[1]["total"] == fresh > 0
    assert StateStore(sinks["state"]).committed_batches() == [s["batch_id"] for s in summaries]

    keys = ["repo", "path", "commit"]
    out = spark.read.parquet(sinks["output"])
    assert out.count() == out.select(*keys).distinct().count() == sum(s["kept"] for s in summaries)
    metrics = spark.read.parquet(sinks["metrics"]).agg(F.sum("files"), F.sum("kept")).first()
    assert list(metrics) == [sum(s["total"] for s in summaries), sum(s["kept"] for s in summaries)]
    dropped = spark.read.parquet(sinks["audit"]).filter("decision = 'drop'").select(*keys).distinct()
    assert dropped.count() == sum(s["dropped"] for s in summaries)

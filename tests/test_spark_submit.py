"""spark-submit --py-files end-to-end (north_rule: "the whole job runs via
spark-submit --py-files with zero per-row Python").

The job script is COPIED to a temp dir before submission, so its
dev-convenience sys.path insert points away from the repo — the
llm_tab_cleaner_spark package must come from the built zip alone.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_py_files_e2e(tmp_path, spark, code_files_small):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "jobs_package", str(_ROOT / "jobs" / "package.py")
    )
    pkg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pkg)
    zip_path = pkg.build(str(tmp_path / "llm_tab_cleaner_spark.zip"))
    jar_path = pkg.build_jar(str(tmp_path / "llm_tab_cleaner_spark-udfs.jar"))

    cf, _ = code_files_small
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(cf.iloc[:120]).write.parquet(src)

    job = str(tmp_path / "run_quality_filter.py")
    shutil.copy(_ROOT / "jobs" / "run_quality_filter.py", job)
    out = str(tmp_path / "out.parquet")
    rep = str(tmp_path / "report.json")

    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            "--jars", jar_path,  # the JVM scorer and signature kernels
            job,
            "--input", src,
            "--output", out,
            "--report", rep,
        ],
        cwd=str(tmp_path),  # nothing repo-local on the path
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["total"] == 120
    assert 0 < summary["kept"] <= 120
    got = spark.read.parquet(out)
    assert got.count() == summary["kept"]
    assert {"content", "content_sha256", "clean_sha256", "confidence"} <= set(got.columns)
    report = json.load(open(rep))
    assert report["total_files"] == 120

"""Build the spark-submit artifacts: dist/llm_tab_cleaner_spark.zip for
--py-files and dist/llm_tab_cleaner_spark-udfs.jar (the JVM scorer and
signature kernels) for --jars."""

from __future__ import annotations

import os
import shutil
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str | None = None) -> str:
    out = out or os.path.join(ROOT, "dist", "llm_tab_cleaner_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pkg = os.path.join(ROOT, "llm_tab_cleaner_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith((".py", ".java")):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    return out


def build_jar(out: str | None = None) -> str:
    """Copy the compiled UDF jar (compiling it on a cache miss) to ``out``."""
    if ROOT not in sys.path:  # run as a script from jobs/
        sys.path.insert(0, ROOT)
    from llm_tab_cleaner_spark.jvm import JAR_NAME, udf_jar

    out = out or os.path.join(ROOT, "dist", JAR_NAME)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    shutil.copyfile(udf_jar(), out)
    return out


if __name__ == "__main__":
    print(build())
    print(build_jar())

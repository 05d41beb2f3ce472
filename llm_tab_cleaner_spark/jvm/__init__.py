"""The JVM scorer jar: ``Scorer.java`` compiled once per source version.

``scorer_jar()`` returns the path of a jar holding
``llm_tab_cleaner_spark.jvm.Scorer``, compiling it with the JDK's ``javac``
against the Spark jars PySpark ships when the per-user cache has no jar for
this source and Spark version. ``build_session`` puts it on ``spark.jars``;
for spark-submit, ``python jobs/package.py`` copies it into ``dist/`` for
``--jars``. There is no Python fallback: without ``javac`` (and no cached
jar) this raises, saying what to install.

The cache is ``$XDG_CACHE_HOME/llm_tab_cleaner_spark`` (default
``~/.cache/llm_tab_cleaner_spark``), keyed by a hash of the source and the
PySpark version, so a changed source or Spark upgrade compiles afresh and an
unchanged one never does.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from importlib import resources

SCORER_CLASS = "llm_tab_cleaner_spark.jvm.Scorer"
_SOURCE = "Scorer.java"


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "llm_tab_cleaner_spark")


def _javac() -> str:
    java_home = os.environ.get("JAVA_HOME")
    if java_home and os.path.exists(os.path.join(java_home, "bin", "javac")):
        return os.path.join(java_home, "bin", "javac")
    found = shutil.which("javac")
    if found:
        return found
    raise RuntimeError(
        "javac not found: the quality-filter scorer runs as a Java UDF that "
        "build_session compiles once into "
        f"{cache_dir()}. Install a JDK 17+ (e.g. `apt-get install "
        "openjdk-17-jdk-headless`) or point JAVA_HOME at one, then rerun. "
        "For spark-submit, build the jar where a JDK exists "
        "(`python jobs/package.py`) and pass it with --jars."
    )


def _spark_jars_dir() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_find_spark_home(), "jars")


def scorer_jar() -> str:
    """Path of the compiled scorer jar, compiling it on a cache miss."""
    import pyspark

    source = resources.files(__package__).joinpath(_SOURCE).read_bytes()
    key = hashlib.sha256(source + pyspark.__version__.encode()).hexdigest()[:16]
    cache = cache_dir()
    jar = os.path.join(cache, f"scorer-{key}.jar")
    if os.path.exists(jar):
        return jar

    javac = _javac()
    os.makedirs(cache, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="build-", dir=cache)
    try:
        src = os.path.join(staging, _SOURCE)
        with open(src, "wb") as fh:
            fh.write(source)
        classes = os.path.join(staging, "classes")
        proc = subprocess.run(
            [
                javac, "--release", "17", "-nowarn", "-encoding", "UTF-8",
                "-cp", os.path.join(_spark_jars_dir(), "*"), "-d", classes, src,
            ],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"compiling {_SOURCE} failed:\n{proc.stderr[-4000:]}")
        tmp_jar = os.path.join(staging, "scorer.jar")
        with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
            for dirpath, _dirs, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, classes))
        os.replace(tmp_jar, jar)  # atomic: a concurrent build just wins or loses
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return jar

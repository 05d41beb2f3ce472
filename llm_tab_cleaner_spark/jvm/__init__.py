"""The JVM UDF jar: every ``*.java`` here compiled once per source version.

``udf_jar()`` returns the path of a jar holding the package's Java UDFs
(``Scorer``, the quality-filter scorer; ``Scrub``, the PII / secret /
toxicity scrub; and ``Signatures``, the dedup text and signature kernels:
MinHash, SimHash, token n-grams, winnowing, the zlib length, hyperplane
buckets, IVF cells, the pair-verify dot product and equal-slot count, and
the kNN top-k aggregator),
compiling them with the JDK's ``javac`` against the Spark jars PySpark
ships when the per-user cache has no jar for these sources and this Spark
version. ``build_session`` puts it on ``spark.jars``; for spark-submit,
``python jobs/package.py`` copies it into ``dist/`` for ``--jars``. There
is no Python fallback: without ``javac`` (and no cached jar) this raises,
saying what to install.

The cache is ``$XDG_CACHE_HOME/llm_tab_cleaner_spark`` (default
``~/.cache/llm_tab_cleaner_spark``), keyed by a hash of all the sources and
the PySpark version, so a changed source or Spark upgrade compiles afresh
and an unchanged one never does.

``session_udf`` registers a UDF under a name carrying a hash of its
parameters, once per session.
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
SCRUB_CLASS = "llm_tab_cleaner_spark.jvm.Scrub"
SIGNATURES_CLASS = "llm_tab_cleaner_spark.jvm.Signatures"
JAR_NAME = "llm_tab_cleaner_spark-udfs.jar"


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
        "javac not found: the scorer, the scrub and the dedup kernels run "
        "as Java UDFs that build_session compiles once into "
        f"{cache_dir()}. Install a JDK 17+ (e.g. `apt-get install "
        "openjdk-17-jdk-headless`) or point JAVA_HOME at one, then rerun. "
        "For spark-submit, build the jar where a JDK exists "
        f"(`python jobs/package.py`) and pass it with --jars dist/{JAR_NAME}."
    )


def _spark_jars_dir() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_find_spark_home(), "jars")


def udf_jar() -> str:
    """Path of the compiled UDF jar, compiling it on a cache miss."""
    import pyspark

    pkg = resources.files(__package__)
    sources = {
        p.name: p.read_bytes() for p in sorted(pkg.iterdir(), key=lambda p: p.name)
        if p.name.endswith(".java")
    }
    digest = hashlib.sha256(pyspark.__version__.encode())
    for name, body in sources.items():
        digest.update(name.encode() + b"\0" + body)
    cache = cache_dir()
    jar = os.path.join(cache, f"udfs-{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar

    javac = _javac()
    os.makedirs(cache, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="build-", dir=cache)
    try:
        srcs = []
        for name, body in sources.items():
            srcs.append(os.path.join(staging, name))
            with open(srcs[-1], "wb") as fh:
                fh.write(body)
        classes = os.path.join(staging, "classes")
        proc = subprocess.run(
            [
                javac, "--release", "17", "-nowarn", "-encoding", "UTF-8",
                "-cp", os.path.join(_spark_jars_dir(), "*"), "-d", classes, *srcs,
            ],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"compiling {', '.join(sources)} failed:\n{proc.stderr[-4000:]}")
        tmp_jar = os.path.join(staging, "udfs.jar")
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


def _jvm_class(spark, class_name: str):
    """The py4j handle of ``class_name``; raises naming the fix when the
    session's JVM was started without the UDF jar."""
    from py4j.java_gateway import JavaClass

    cls = spark._jvm
    for part in class_name.split("."):
        cls = getattr(cls, part)
    if not isinstance(cls, JavaClass):
        raise RuntimeError(
            f"the JVM UDF class {class_name} is not on the driver classpath. "
            "Create the session with llm_tab_cleaner_spark.session.build_session "
            "(it compiles the jar and sets spark.jars), or, under spark-submit, "
            "build the jar with `python jobs/package.py` and pass it with "
            f"--jars dist/{JAR_NAME}."
        )
    return cls


def session_udf(spark, prefix: str, params: bytes, class_name: str, method: str, *args) -> str:
    """Name of the session function ``{prefix}_{hash of params}``. On first
    use in a session, the static ``class_name.method(session, name, *args)``
    registers it, so each (session, parameters) registers once."""
    name = f"{prefix}_{hashlib.sha256(params).hexdigest()[:16]}"
    if not spark.catalog.functionExists(name):
        getattr(_jvm_class(spark, class_name), method)(spark._jsparkSession, name, *args)
    return name

"""SparkSession factory with the configs the engine assumes.

Mirrors the session the reference builds at
``/root/reference/src/llm_tab_cleaner/spark.py:214-221, 414-428`` (AQE,
coalescePartitions, skewJoin, Arrow) but tuned for this engine:
UTC session TZ (duckdb-oracle parity), Arrow batches sized for code files,
shuffle partitions ≈ cores, and the JVM UDF jar on ``spark.jars``.
"""

from __future__ import annotations

import os

# One BLAS thread per python worker: N workers × default-N BLAS threads
# oversubscribes quadratically, and numpy UDFs anti-scale (the former pandas
# scorer measured a 4.5× slowdown at 32 workers). The quality-filter scorer
# and the near-dup signature kernels run in the JVM now; the pins stay for
# the numpy UDFs that remain (n-gram hashes, fingerprint, IVF and kNN
# kernels). Must be set before numpy loads in the workers — local-mode
# workers inherit the driver env, and executorEnv covers clusters.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession

from llm_tab_cleaner_spark.jvm import udf_jar


def build_session(
    app_name: str = "llm_tab_cleaner_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession configured for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster
    the master/memory settings come from spark-submit instead; every other
    config here is cluster-safe.

    PySpark's DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    every ``pyspark.sql.functions`` call and Column operator walks the
    Python stack, tries ``import IPython`` and makes extra JVM round trips
    to record where it was made, and building the pipeline's plan makes
    several hundred such calls per run. The captured call site only
    decorates error messages. PySpark reads the conf once per process; to
    get the call sites back, pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    to the first ``build_session`` call.

    The quality-filter scorer and the near-dup signature kernels are Java
    UDFs: their jar (``jvm.udf_jar()``) goes on ``spark.jars``, ahead of any
    jars in ``extra_conf``. The first call for a given version of the Java
    sources compiles them with ``javac`` into the per-user cache (a few
    seconds); later calls reuse the cached jar.
    Without a JDK this raises instead of starting a session the pipeline
    cannot run in. Jars only reach a JVM that starts here: if a session
    already exists, it is returned as it is.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for the pandas UDFs (n-gram hashes,
        # fingerprints, user rule callables): 4096 halves per-batch fixed
        # costs (serde setup, pandas materialization, numpy kernel
        # overheads) vs 2048 — measured 17.3 → 9.3 CPU-s floor per 50k-file
        # pass when the scorer was a pandas UDF (BENCH/BASELINE.md round-4).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # split big text-heavy scans across tasks (default 128m under-splits
        # a 150 MB single-file input into 1-2 tasks)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    extra = dict(extra_conf or {})
    jars = ",".join(j for j in (udf_jar(), extra.pop("spark.jars", "")) if j)
    builder = builder.config("spark.jars", jars)
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

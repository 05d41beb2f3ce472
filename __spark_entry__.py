"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship quality-filter pipeline on the sf0.001
documents table mapped into the code-files shape. ``queries()`` exposes one
callable per implemented operator (SURVEY.md §2 + the training-data-pipeline
operators); ``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible query.

Conventions (so the driver's sorted-column value-hash matches):
- every aggregate/computed column is aliased identically on both sides,
- integers are cast to BIGINT, floats are ROUND(x, 2..4) and cast to DOUBLE,
- regex patterns stay in the Java/RE2/Python-common dialect.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.functions.pii import scrub_expr, scrub_sql
from llm_tab_cleaner_spark.functions import thresholds as TH
from llm_tab_cleaner_spark.operators import dedup, profiler, similarity, text_analysis as TA

SF_DEFAULT = "/root/testdata/sf0.001"

_PII_SUFFIX = " contact admin@example.com srv 10.1.2.3 key token=abcd1234efgh"


#: Cap on the unsplittable-input spread (see _t). 8 is this host's measured
#: streaming-worker saturation point (BENCH/BASELINE.md "Throughput": the
#: shared memory hierarchy saturates around 8 byte-streaming workers, and a
#: 16-32-way spread of these small tables was measured STRICTLY WORSE —
#: 3-6x the CPU-seconds of the 8-way spread for equal or worse wall).
#: Parameterised for other hosts; on a properly-split corpus the guard in
#: _t never fires and this is inert.
_SPREAD_CAP = int(__import__("os").environ.get("SPARK_GRAFT_SPREAD_CAP", "8"))


def _path_bytes(path: str) -> int:
    import os

    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a driver table; with ``spread=True``, if the source cannot
    parallelize the scan, spread it once after the read.

    The driver's tables are single-file, SINGLE-ROW-GROUP parquet: byte-range
    splitting cannot parallelize them (a row group is one reader), so every
    scan — and every downstream projection/UDF/localCheckpoint that inherits
    its partitioning — ran as ONE task on a 32-core session (measured r6:
    gopher_quality 2.1 s wall at 2.7 CPU-s, all on one core). The guide's
    fix for unsplittable input (§2.5) is a repartition immediately after the
    read. Scale-adaptive by construction: the target derives from input
    size (one partition per 64 KiB of compressed input, so tiny tables are
    not shredded into confetti tasks), is capped by the session parallelism
    and the host saturation point (_SPREAD_CAP), and fires only when the
    scan's real partition count is far below that target — a properly-split
    100 TB table has thousands of partitions and the guard is inert.

    OPT-IN per query, because the exchange is a real cost (~0.2-0.3 s at
    sf0.1) that only pays for itself when the downstream per-row work is
    heavy — text-kernel UDFs, regex chains, pair verifies (measured r6:
    gopher_quality 1.9 -> 0.7 s, simhash_pairs 3.3 -> 2.2 s, c4_clean
    0.93 -> 0.43 s); cheap aggregations/windows (skew_report,
    window_top_orders, shard_pack ...) lose more to the exchange than the
    extra cores return, so they keep the plain scan."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not spread:
        return df
    target = min(
        spark.sparkContext.defaultParallelism,
        _SPREAD_CAP,
        max(1, _path_bytes(path) // 65536),
    )
    if df.rdd.getNumPartitions() * 2 < target:
        df = df.repartition(target)
    return df


def _docs_as_code_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.col("text").alias("content"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality-filter pipeline (native rules + scorer UDF +
    scrub) over the sf0.001 documents table in code-files shape."""
    from llm_tab_cleaner_spark import CleanPipeline

    df = _docs_as_code_files(spark, SF_DEFAULT)
    result, _audit = CleanPipeline(spark).run(df)
    return result.select(
        F.col("path").alias("doc_id"),
        "keep",
        F.round("confidence", 4).alias("confidence"),
        "lang_pred",
        F.round("ppl_bits", 4).alias("ppl_bits"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "content_sha256",
        "clean_sha256",
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def _q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))),
                2,
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


def _q_region_revenue(spark, sf):
    region = _t(spark, sf, "region")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"),
             F.count(F.lit(1)).cast("bigint").alias("n_items"))
    )


def _q_top_customers(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum(dec("o_totalprice")), 2).cast("double").alias("total_spent"),
             F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .join(F.broadcast(cust.select("c_custkey", "c_name")), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "total_spent", "n_orders")
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


def _q_customers_no_orders(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return cust.join(
        orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


def _q_parts_in_lineitem(spark, sf):
    part = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return (
        part.join(li.select("l_partkey"), part.p_partkey == F.col("l_partkey"), "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts_used"))
    )


def _q_window_top_orders(spark, sf):
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select(
            "o_custkey", "o_orderkey",
            F.round(F.col("o_totalprice"), 2).cast("double").alias("totalprice"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _q_dup_pairs_count(spark, sf):
    li = _t(spark, sf, "lineitem")
    return profiler.duplicate_row_count(li, ["l_orderkey", "l_partkey"]).select(
        F.col("dup_count").cast("bigint").alias("dup_count")
    )


def _q_price_outliers(spark, sf):
    li = _t(spark, sf, "lineitem")
    return profiler.zscore_outliers(li, "l_extendedprice", 3.0).select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.round("l_extendedprice", 2).cast("double").alias("price"),
    )


def _q_event_bins(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"),
             F.round(F.avg("value"), 4).alias("avg_value"))
    )


def _q_event_windows(spark, sf):
    """5-minute tumbling-window event aggregation (the batch shape of the
    streaming windowed agg; Structured Streaming variant in streaming/)."""
    ev = _t(spark, sf, "events")
    win = F.window(F.col("ts"), "5 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "cnt", "sum_value",
        )
    )


def _q_event_sessions(spark, sf):
    """Sessionization: per-user sessions split on >30-minute gaps (lag +
    running sum over a window — the classic event-stream shape), then one
    row per session with its event count and span."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    sess = ev.withColumn("session_id", F.sum(new_s).over(w))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            (F.max(F.col("ts").cast("timestamp").cast("long")) - F.min(F.col("ts").cast("timestamp").cast("long")))
            .cast("bigint")
            .alias("span_seconds"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("session_id").cast("bigint").alias("session_id"),
            "n_events", "session_start", "span_seconds",
        )
    )


def _q_value_quantiles(spark, sf):
    """Exact per-group quantiles (p25/p50/p75 of value per event type) —
    the interpolated percentile, matching DuckDB's quantile_cont."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )


def _q_corr_price_qty(spark, sf):
    li = _t(spark, sf, "lineitem")
    return profiler.correlation(li, "l_extendedprice", "l_quantity")


def _q_profile_orders(spark, sf):
    o = _t(spark, sf, "orders")
    return profiler.column_stats(o, "o_totalprice").select(
        F.col("row_count").cast("bigint").alias("row_count"),
        F.col("null_count").cast("bigint").alias("null_count"),
        F.col("distinct_count").cast("bigint").alias("distinct_count"),
        F.round("min_value", 2).cast("double").alias("min_value"),
        F.round("max_value", 2).cast("double").alias("max_value"),
        F.col("avg_value").cast("double").alias("avg_value"),
        F.col("median_value").cast("double").alias("median_value"),
        F.col("std_value").cast("double").alias("std_value"),
    )


def _q_corr_matrix(spark, sf):
    """A14 sweep: all-pairs Pearson r over lineitem numeric columns in one
    agg pass, unpivoted to long format."""
    li = _t(spark, sf, "lineitem")
    return profiler.correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _q_fk_sweep(spark, sf):
    """A13 sweep: containment checks over the TPC-H FK graph — one row per
    candidate (child, parent) pair, missing_count 0 ⇒ FK holds."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    part = _t(spark, sf, "part")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    supplier = _t(spark, sf, "supplier")
    return profiler.fk_sweep([
        (li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey", "orders.o_orderkey"),
        (li, "l_partkey", part, "p_partkey", "lineitem.l_partkey", "part.p_partkey"),
        (orders, "o_custkey", cust, "c_custkey", "orders.o_custkey", "customer.c_custkey"),
        (cust, "c_nationkey", nation, "n_nationkey", "customer.c_nationkey", "nation.n_nationkey"),
        (supplier, "s_nationkey", nation, "n_nationkey", "supplier.s_nationkey", "nation.n_nationkey"),
        (nation, "n_regionkey", region, "r_regionkey", "nation.n_regionkey", "region.r_regionkey"),
    ])


def _q_validity_counts(spark, sf):
    """P3/P4/P5/P6 standalone predicates over customer: phone validity on
    c_phone, numeric-parse on a currency-formatted c_acctbal, email/date
    shapes on synthesized columns (exercises every predicate regex)."""
    from llm_tab_cleaner_spark.functions import predicates as P

    c = _t(spark, sf, "customer")
    # the driver's customer table has no phone column — synthesize one
    # deterministically from the key (custkey < 1000 → too few digits)
    phone = F.concat(F.lit("555-"), F.col("c_custkey").cast("string"))
    money = F.concat(F.lit("$"), F.col("c_acctbal").cast("string"))
    email_raw = F.concat(F.col("c_name"), F.lit("@example.com"))  # '#' → invalid
    email_ok = F.concat(
        F.regexp_replace(F.col("c_name"), r"[^a-zA-Z0-9]", ""), F.lit("@example.com")
    )
    datish = F.concat(F.lit("19"), F.lpad(F.pmod(F.col("c_custkey"), 100), 2, "0"),
                      F.lit("-01-15"))
    return c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(P.phone_valid(phone).cast("bigint")).alias("n_valid_phone"),
        F.sum(P.numeric_parseable(money).cast("bigint")).alias("n_parseable_money"),
        F.sum(P.email_valid(email_raw).cast("bigint")).alias("n_valid_email_raw"),
        F.sum(P.email_valid(email_ok).cast("bigint")).alias("n_valid_email_sanitized"),
        F.sum(P.date_format_valid(datish).cast("bigint")).alias("n_valid_dates"),
    )


def _q_dp_noise(spark, sf):
    """T20: deterministic (hash-keyed) Laplace mechanism — noisy per-flag
    quantity sums; the DuckDB oracle replays the identical noise from md5."""
    from llm_tab_cleaner_spark.functions.privacy import keyed_laplace_noise_expr

    li = _t(spark, sf, "lineitem")
    key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    noisy = F.col("l_quantity").cast("double") + keyed_laplace_noise_expr(key, 1.0, 1.0)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.sum(noisy), 2).cast("double").alias("noisy_sum_qty"),
    )


def _q_length_outliers(spark, sf):
    # z=1.5 (operator default is 3.0): the fixture's lengths are near-uniform
    # (σ≈138 over [48,553]), so 3σ never fires — 1.5σ exercises real rows
    d = _t(spark, sf, "documents")
    return profiler.length_outliers(d, "doc_id", "text", 1.5)


def _q_email_domains(spark, sf):
    """A16: domains of every email found in the documents (suffix plants one
    deterministic email per doc so the result is non-trivial at every SF)."""
    d = _t(spark, sf, "documents").select(
        F.concat(F.col("text"), F.lit(_PII_SUFFIX)).alias("text")
    )
    return profiler.email_domains(d, "text").select(
        "domain", F.col("cnt").cast("bigint").alias("cnt")
    )


def _q_rare_brands(spark, sf):
    """A9: categorical values rarer than 3.5% of rows (broadcast-total
    two-stage filter)."""
    part = _t(spark, sf, "part")
    return profiler.rare_categories(part, "p_brand", 0.035).select(
        F.col("value").alias("p_brand"), F.col("cnt").cast("bigint").alias("cnt")
    )


def _q_calibration_bins(spark, sf):
    """A17: reliability bins over a synthesized (confidence, label) pair —
    conf = discount scaled to [0,1], label = quantity above its midpoint.
    Exercises the binning aggregation with a SQL-expressible fixture."""
    li = _t(spark, sf, "lineitem")
    labeled = li.select(
        F.least(F.col("l_discount") * 10, F.lit(0.999)).alias("conf"),
        (F.col("l_quantity") > 25).cast("double").alias("label"),
    )
    return profiler.calibration_bins(labeled, "conf", "label", 10).select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("cnt").cast("bigint").alias("cnt"),
        "avg_conf", "avg_label",
    )


def _q_topk_parts(spark, sf):
    li = _t(spark, sf, "lineitem")
    return profiler.topk_values(li, "l_partkey", 10).select(
        F.col("value").cast("bigint").alias("l_partkey"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


def _q_fk_lineitem_orders(spark, sf):
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    return profiler.fk_containment(li, "l_orderkey", orders, "o_orderkey").select(
        F.col("missing_count").cast("bigint").alias("missing_count")
    )


# ---- documents / text ----

def _q_doc_stats(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    out = TA.doc_stats(d, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_chars_calc").cast("bigint").alias("n_chars_calc"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "unique_token_ratio", "alnum_ratio", "quality", "fingerprint",
    )


def _q_short_docs(spark, sf):
    d = _t(spark, sf, "documents")
    return d.filter(F.length("text") < 100).select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars_calc")
    )


def _q_doc_lang_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
    )


def _q_scrub_parity(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    return d.select(
        "doc_id",
        F.md5(scrub_expr(F.concat(F.col("text"), F.lit(_PII_SUFFIX)))).alias("scrub_md5"),
    )


def _q_exact_dedup_prefix(spark, sf):
    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: F.length(t) > 0)
    prefix = F.concat_ws(" ", F.slice(toks, 1, 3))
    keyed = d.select(F.col("doc_id"), F.md5(prefix).alias("prefix_md5"))
    return (
        keyed.groupBy("prefix_md5")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).cast("bigint").alias("copies"))
        .filter(F.col("copies") > 1)
    )


def _q_exact_dedup_docs(spark, sf):
    """Full exact dedup operator (sha-256 groupBy, min-key winner) over the
    documents table — the operator-level twin of exact_dedup_prefix."""
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    out = dedup.exact_dedup(d, ["doc_id"], "text")
    return out.select(
        "doc_id", "content_digest", F.col("copies").cast("bigint").alias("copies")
    )


def _q_token_topk(spark, sf):
    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: F.length(t) > 0)
    return (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


def _q_quality_by_source(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.avg(TA.quality_score(F.col("text"))), 4).alias("avg_quality"),
    )


def _q_bpe_tokens(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TA.token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
        TA.bpe_ish_token_count(F.col("text")).cast("bigint").alias("bpe_tokens"),
    )


def _q_doc_chunks(spark, sf):
    """Fixed-size overlapping character chunks per document (the
    pre-tokenization shaping step) — chunk_id, start offset, md5 of chunk."""
    d = _t(spark, sf, "documents")
    out = TA.chunk_documents(d, "doc_id", "text", chunk_chars=200, overlap=50)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("char_start").cast("bigint").alias("char_start"),
        F.md5("chunk").alias("chunk_md5"),
    )


def _q_stopword_ratio(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", F.round(TA.stopword_ratio(F.col("text")), 4).alias("stopword_ratio")
    )


def _q_label_centroids(spark, sf):
    """Element-wise centroid per embedding label (posexplode + groupBy) —
    long format (label, pos, avg_v)."""
    e = _t(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 4).alias("avg_v"))
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("pos").cast("bigint").alias("pos"),
            "avg_v",
        )
    )


def _q_native_rules_docs(spark, sf):
    """The rule compiler's native drop rules over documents (SQL-expressible
    subset of the quality filter — the oracle for rule semantics)."""
    from llm_tab_cleaner_spark.functions import text_features as TF

    d = _t(spark, sf, "documents", spread=True)
    c = F.col("text")
    nullish = F.when(TF.is_nullish(c), F.lit(TH.CONF_NULLISH))
    minified = F.when(TF.max_line_len(c) > TH.MAX_LINE_LEN, F.lit(TH.CONF_MINIFIED))
    low_alnum = F.when(
        (TF.alnum_ratio(c) < TH.ALNUM_RATIO_MIN) & (F.length(c) > 0), F.lit(TH.CONF_LOW_ALNUM)
    )
    rep = F.when(
        (TF.unique_token_ratio(c) < TH.UNIQUE_TOKEN_RATIO_MIN)
        & (TF.n_tokens(c) >= TH.REPETITION_MIN_TOKENS)
        & (TF.n_distinct_tokens(c) < TH.REPETITION_MAX_DISTINCT),
        F.lit(TH.CONF_REPETITION),
    )
    short = F.when(
        (TF.n_tokens(c) > 0) & (TF.n_tokens(c) < TH.SHORT_TOKENS_MAX) & ~TF.is_nullish(c),
        F.lit(TH.SHORT_BASE) - F.lit(TH.SHORT_SLOPE) * TF.n_tokens(c),
    )
    drop_conf = F.coalesce(F.greatest(
        F.coalesce(nullish, F.lit(0.0)),
        F.coalesce(minified, F.lit(0.0)),
        F.coalesce(low_alnum, F.lit(0.0)),
        F.coalesce(rep, F.lit(0.0)),
        F.coalesce(short, F.lit(0.0)),
    ), F.lit(0.0))
    return d.select(
        "doc_id",
        F.round(drop_conf, 4).alias("drop_confidence"),
        (drop_conf < TH.CONF_THRESHOLD).alias("keep"),
    )


def _rules_tabular_audit(spark, sf):
    """T1-T13 end-to-end: the reference's PRIMARY tabular use case
    (core.py:274-296 via cleaning_rule.py:148-175 max-confidence-wins).
    A messy view is synthesized deterministically from customer
    (phone/state/boolean/currency/date/email/nullish variants keyed on
    c_custkey mods) and the DEFAULT rule table runs through apply_rules;
    the long-format audit feeds rules_tabular (driver-oracled against a
    branch-wise DuckDB twin) and learned_patterns."""
    from llm_tab_cleaner_spark.operators.rules import apply_rules

    c = _t(spark, sf, "customer", spread=True)
    k = F.col("c_custkey").cast("bigint")
    m2, m3, m4, m5 = [F.pmod(k, F.lit(n)) for n in (2, 3, 4, 5)]
    s4 = F.lpad(F.pmod(k, F.lit(10000)).cast("string"), 4, "0")
    ks = k.cast("string")
    phone = (
        F.when(m4 == 0, F.concat(F.lit("(555) 010-"), s4))
        .when(m4 == 1, F.concat(F.lit("1 555 010 "), s4))
        .when(m4 == 2, F.concat(F.lit(" 555-010-"), s4, F.lit(" ")))
        .otherwise(F.lit("n/a"))
    )
    state = (
        F.when(m4 == 0, F.lit("california"))
        .when(m4 == 1, F.lit("new york"))
        .when(m4 == 2, F.lit(" TX "))
        .otherwise(F.lit("WA"))  # not in the map → no fix row
    )
    flag = F.when(m3 == 0, F.lit("Yes")).when(m3 == 1, F.lit("0")).otherwise(F.lit("true"))
    cents = (F.pmod(k, F.lit(90)) + 10).cast("string")
    price = F.when(m2 == 0, F.concat(F.lit("$"), cents, F.lit(".25"))).otherwise(
        F.concat(cents, F.lit(".99"))
    )
    mm = (F.pmod(k, F.lit(12)) + 1).cast("string")
    dd = (F.pmod(k, F.lit(28)) + 1).cast("string")
    signup = F.when(m2 == 0, F.concat(mm, F.lit("/"), dd, F.lit("/2019"))).otherwise(
        F.lit("2019-06-15")
    )
    email = (
        F.when(m3 == 0, F.concat(F.lit("User"), ks, F.lit("@Example.COM")))
        .when(m3 == 1, F.concat(F.lit("customer"), ks, F.lit("@example.com")))
        .otherwise(F.concat(F.lit("  a"), ks, F.lit("@b.com  ")))
    )
    note = (
        F.when(m5 == 0, F.lit("N/A"))
        .when(m5 == 1, F.lit("  hello world  "))
        .when(m5 == 2, F.lit("TBD"))
        .otherwise(F.lit("ok"))
    )
    messy = c.select(
        k.alias("c_custkey"), phone.alias("phone"), state.alias("state"),
        flag.alias("is_active"), price.alias("price"), signup.alias("signup_date"),
        email.alias("email"), note.alias("note"),
    )
    res = apply_rules(messy, confidence_threshold=0.7, key_cols=["c_custkey"])
    return res.audit


def _q_rules_tabular(spark, sf):
    return _rules_tabular_audit(spark, sf).select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("column").alias("col_name"),
        "rule_fired",
        F.round("confidence", 2).cast("double").alias("confidence"),
        "original",
        "cleaned",
    )


def _q_learned_patterns(spark, sf):
    """The adaptive learner's distributed aggregation (adaptive.py port)
    over the rules_tabular audit: high-confidence exact fixes grouped to
    (column, original, cleaned) with support + max confidence. The oracle
    re-derives the SAME audit branch-wise and aggregates it in SQL — two
    independent derivations of what the learner should learn."""
    from llm_tab_cleaner_spark.operators.adaptive import learned_patterns_df

    audit = _rules_tabular_audit(spark, sf)
    out = learned_patterns_df(audit, min_support=2, min_confidence=0.8)
    return out.select(
        F.col("column").alias("col_name"), "original", "cleaned",
        F.col("frequency").cast("bigint").alias("frequency"),
        F.round("confidence", 2).cast("double").alias("confidence"),
    )


def _q_learned_fuzzy(spark, sf):
    """The learner's deterministic fuzzy tier (reference adaptive.py:250-288
    recast: char-3-gram Jaccard ≥ 0.4 with total-order tie-break instead of
    corpus-dependent TF-IDF cosine): every learned input perturbed with a
    trailing '~' must fuzzy-resolve back to a learned pattern of its column.
    The oracle replays grams, Jaccard, and the ranking window in SQL."""
    from llm_tab_cleaner_spark.operators.adaptive import (
        fuzzy_match_df,
        learned_patterns_df,
    )

    audit = _rules_tabular_audit(spark, sf)
    pats = learned_patterns_df(audit, min_support=2, min_confidence=0.8)
    vals = pats.select(
        "column", F.concat(F.col("original"), F.lit("~")).alias("value")
    ).distinct()
    out = fuzzy_match_df(vals, pats, "value", column_col="column")
    return out.select(
        F.col("column").alias("col_name"),
        "value",
        "matched_input",
        "suggested",
        F.col("similarity").cast("double").alias("similarity"),
        F.col("suggestion_confidence").cast("double").alias("suggestion_confidence"),
    )


def _q_license_stats(spark, sf):
    """License detection over synthesized code headers (X21): each customer
    row gets a deterministic header by c_custkey % 8 — SPDX-tagged MIT,
    untagged Apache, GPL text, SPDX GPL tag, all-rights-reserved, a
    precedence case (MIT text + GPL text → copyleft wins), a marker pushed
    BEYOND the 2 KiB scan prefix (must classify 'none'), and plain prose.
    The oracle states the expected (class, spdx) per branch — a branch-wise
    twin like rules_tabular's."""
    from llm_tab_cleaner_spark.functions.licensing import license_counts

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey") % 8
    header = (
        F.when(k == 0, F.concat(F.lit("// SPDX-License-Identifier: MIT\n// MIT License\n"), F.col("c_name")))
        .when(k == 1, F.concat(F.lit("/* Licensed under the Apache License, Version 2.0 */\n/* Apache License */\n"), F.col("c_name")))
        .when(k == 2, F.concat(F.lit("# This program is free software: GNU General Public License v3\n"), F.col("c_name")))
        .when(k == 3, F.concat(F.lit("// SPDX-License-Identifier: GPL-3.0-only\n"), F.col("c_name")))
        .when(k == 4, F.concat(F.lit("/* Copyright Acme Corp. All rights reserved. */\n"), F.col("c_name")))
        .when(k == 5, F.concat(F.lit("// MIT License\n// includes code under the GNU General Public License\n"), F.col("c_name")))
        .when(k == 6, F.concat(F.repeat(F.lit("x"), 2300), F.lit("\nMIT License\n")))
        .otherwise(F.col("c_name"))
    )
    out = license_counts(c.select(header.alias("content")))
    return out.select(
        "license_class",
        "spdx_id",
        F.col("n_files").cast("bigint").alias("n_files"),
    )


def _q_comment_stats(spark, sf):
    """Comment stripping / comment-ratio (X22) over synthesized per-language
    code rows: the oracle replays the SAME dialect-common regex chains
    (block → line markers) in DuckDB RE2 and recomputes the ratios — a
    genuine twin of the transform, not just branch-expected values."""
    from llm_tab_cleaner_spark.functions.code_comments import comment_ratio_expr

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey") % 4
    content = (
        F.when(k == 0, F.concat(F.lit("# header\nx = 1  # tail\n"), F.col("c_name")))
        .when(k == 1, F.concat(F.lit("/* block\nmulti */\nint x; // line\n"), F.col("c_name")))
        .when(k == 2, F.concat(F.lit("var y = 1 // only\n"), F.col("c_name")))
        .otherwise(F.concat(F.lit("plain text // kept\n"), F.col("c_name")))
    )
    lang = (
        F.when(k == 0, F.lit("python"))
        .when(k == 1, F.lit("c"))
        .when(k == 2, F.lit("javascript"))
        .otherwise(F.lit("markdown"))
    )
    d = c.select(content.alias("content"), lang.alias("lang"))
    out = d.select(
        "lang", comment_ratio_expr(F.col("content"), F.col("lang")).alias("r")
    )
    return out.groupBy("lang").agg(
        F.round(F.avg("r"), 4).cast("double").alias("avg_comment_ratio"),
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
    )


def _q_import_stats(spark, sf):
    """Import/dependency extraction (functions/code_imports.py) over
    synthesized per-language code rows: language by c_custkey % 5, one
    fixed + one varying (c_custkey % 3) import per file. The oracle replays
    the SAME extraction regexes in DuckDB RE2 (tri-dialect contract) plus
    the root-segment split and the (lang, root) aggregation — a genuine
    twin of the transform, like comment_stats."""
    from llm_tab_cleaner_spark.functions.code_imports import import_stats

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey") % 5
    m = (F.col("c_custkey") % 3).cast("string")
    content = (
        F.when(k == 0, F.concat(F.lit("import os\nfrom pkg"), m, F.lit(".sub import x\n")))
        .when(k == 1, F.concat(F.lit("const a = require('lib"), m, F.lit("/core');\nimport z from 'react';\n")))
        .when(k == 2, F.concat(F.lit("#include <stdio.h>\n#include \"lib"), m, F.lit("/util.h\"\n")))
        .when(k == 3, F.concat(F.lit("import java.util.List;\nimport com.ex"), m, F.lit(".App;\n")))
        .otherwise(F.concat(F.lit("import \"fmt\"\nimport \"github.com/u/lib"), m, F.lit("\"\n")))
    )
    lang = (
        F.when(k == 0, F.lit("python"))
        .when(k == 1, F.lit("javascript"))
        .when(k == 2, F.lit("c"))
        .when(k == 3, F.lit("java"))
        .otherwise(F.lit("go"))
    )
    d = c.select(content.alias("content"), lang.alias("lang"))
    out = import_stats(d, "content", "lang")
    return out.select(
        "lang",
        "module_root",
        F.col("n_imports").cast("bigint").alias("n_imports"),
        F.col("n_files").cast("bigint").alias("n_files"),
    )


def _q_pipeline_corpus_gate(spark, sf):
    """The pipeline's combined opt-in corpus path (X21+X22 as
    PipelineConfig stages, round-4 VERDICT #5): license gate + comment-ratio
    run INSIDE CleanPipeline.run — the scorer UDF executes in the same plan,
    but the compared projection is the native gate/feature output, so the
    DuckDB twin replays it exactly (gate first, ratio only on surviving
    rows — the stage order in CleanPipeline.prepare). Headers are
    synthesized per doc_id % 4: SPDX MIT (permissive, survives), GPL text
    (copyleft, gated out), proprietary marker (restricted, gated out),
    plain text (none, survives)."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig

    d = _t(spark, sf, "documents", spread=True)
    k = F.col("doc_id") % 4
    content = (
        F.when(k == 0, F.concat(F.lit("// SPDX-License-Identifier: MIT\n// MIT License\n"), F.col("text")))
        .when(k == 1, F.concat(F.lit("# This code is under the GNU General Public License.\n"), F.col("text")))
        .when(k == 2, F.concat(F.lit("/* Proprietary and confidential */\n"), F.col("text")))
        .otherwise(F.col("text"))
    )
    df = d.select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.md5(F.col("text")).alias("commit"),
        # NULL lang: the comment when-chain's otherwise branch (all marker
        # families) — exactly what the oracle's strip_comments_sql replays
        F.lit(None).cast("string").alias("lang"),
        content.alias("content"),
    )
    pipe = CleanPipeline(
        spark,
        PipelineConfig(license_allow=("permissive", "none"), with_comment_ratio=True),
    )
    result, _audit = pipe.run(df)
    return result.select(
        F.col("path").cast("bigint").alias("doc_id"),
        "license_class",
        "spdx_id",
        F.round("comment_ratio", 4).cast("double").alias("comment_ratio"),
    )


#: shared by _q_paragraph_dedup and its oracle — the cross-document
#: boilerplate paragraph the dedup must strip everywhere but doc 0
_BOILER = "Licensed for research use only. Redistribution of this corpus is prohibited."


def _q_paragraph_dedup(spark, sf):
    """Corpus-level paragraph dedup (Lee et al. 2021) on synthesized
    multi-paragraph content: every doc gets the SAME boilerplate header
    paragraph plus its own text broken into 8-word paragraphs — the
    operator must keep the boilerplate only at its first corpus position
    (doc 0) and strip it from the other 499 docs, while near-unique body
    paragraphs survive. Returns md5 + lengths so the value-hash compare
    covers the reassembled text byte-for-byte."""
    from llm_tab_cleaner_spark.operators.dedup import strip_duplicate_paragraphs

    d = _t(spark, sf, "documents", spread=True)
    content = F.concat(
        F.lit(_BOILER + "\n\n"),
        F.regexp_replace(F.col("text"), "(([^ ]+ ){8})", "$1\n\n"),
    )
    out = strip_duplicate_paragraphs(
        d.select("doc_id", content.alias("content")), "doc_id", "content"
    )
    return out.select(
        "doc_id",
        F.md5("text_deduped").alias("dedup_md5"),
        F.length("text_deduped").cast("bigint").alias("dedup_len"),
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_paras_kept").cast("bigint").alias("n_paras_kept"),
    )


def _q_decontaminate(spark, sf):
    """GPT-3-style benchmark decontamination over the documents corpus:
    eval set = every 50th doc, n=5 token-grams (the word-bag docs are
    30-90 tokens, so 13-grams would under-exercise the join). Eval members
    flag themselves (self-contamination — exactly what you'd drop from a
    train split); cross-doc matches require a genuinely shared 5-token run."""
    from llm_tab_cleaner_spark.operators.dedup import decontaminate

    d = _t(spark, sf, "documents", spread=True)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(d, "doc_id", "text", bench, n=5).select(
        "doc_id",
        F.col("n_matching_grams").cast("bigint").alias("n_matching_grams"),
        "contaminated",
    )


def _q_winnow_pairs(spark, sf):
    """MOSS winnowing fingerprints (Schleimer et al. 2003) over documents:
    char-20-gram poly hashes (base 257 mod 2^31-1 over code points — exact
    in BIGINT on both engines), window-16 rightmost-min selection, then all
    pairs sharing >= 2 fingerprints with the containment overlap. k=20 so a
    gram spans ~3 words of the word-bag corpus; the guarantee covers shared
    substrings >= k+w-1 = 35 chars. The oracle replays hashing, selection
    (tie-break via one BIGINT key whose min is (h asc, pos desc)) and the
    pair join value-for-value."""
    from llm_tab_cleaner_spark.operators.fingerprint import winnow_overlap_pairs

    d = _t(spark, sf, "documents", spread=True)
    return winnow_overlap_pairs(
        d, "doc_id", "text", k=20, window=16, min_shared=2
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.col("overlap").cast("double").alias("overlap"),
    )


def _q_repetition_stats(spark, sf):
    """Gopher-style repetition features (Rae et al. 2021 A1.1) per document:
    duplicate-line fraction/char-fraction and top/duplicate word-bigram char
    fractions. The documents table is single-line, so the line features
    exercise the empty/zero paths (still value-compared); the bigram
    features are the live signal here — multi-line line-feature goldens
    live in tests/test_repetition.py against the code-files fixture."""
    from llm_tab_cleaner_spark.functions.repetition import repetition_stats

    return repetition_stats(_t(spark, sf, "documents", spread=True), "doc_id", "text", 2)


def _q_gopher_quality(spark, sf):
    """Gopher quality rules (Rae et al. 2021 A1.1) per document. The
    documents table is a single-line word bag, so the query synthesizes the
    structure the rules exercise: 6-word lines, bullet-list headers on every
    5th doc, ellipsis-ending trailer lines on every 7th, hash-tag lines on
    every 3rd — all deterministic string expressions mirrored byte-for-byte
    by the oracle CTE."""
    from llm_tab_cleaner_spark.functions.webquality import gopher_quality_stats

    d = _t(spark, sf, "documents", spread=True)
    content = F.concat(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("- alpha beta\n- gamma delta\n* epsilon zeta\n"),
        ).otherwise(F.lit("")),
        F.regexp_replace(F.col("text"), "(([^ ]+ ){6})", "$1\n"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nto be continued ...\nand the story goes on ..."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("\n## section #tag #note")
        ).otherwise(F.lit("")),
    )
    return gopher_quality_stats(
        d.select("doc_id", content.alias("content")), "doc_id", "content"
    )


def _q_c4_clean(spark, sf):
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2) per document:
    synthesized 6-word sentence lines (each ends with ' .'), a too-short
    line on every 4th doc (min-words filter), a policy-phrase line on every
    6th (phrase filter), 'lorem ipsum' on every 11th and a '{' line on
    every 13th (page filters). text_clean is value-compared via md5 +
    length, like paragraph_dedup."""
    from llm_tab_cleaner_spark.functions.webquality import c4_clean

    d = _t(spark, sf, "documents", spread=True)
    content = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.lit("tiny line.\n")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.lit("Please review our privacy policy and cookie settings now.\n"),
        ).otherwise(F.lit("")),
        F.regexp_replace(F.col("text"), "(([^ ]+ ){6})", "$1.\n"),
        F.lit(" the end of it all."),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("\nLorem Ipsum dolor sit amet.")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit("\nfunction f() { return 1; }")
        ).otherwise(F.lit("")),
    )
    out = c4_clean(d.select("doc_id", content.alias("content")), "doc_id", "content")
    return out.select(
        "doc_id",
        F.md5("text_clean").alias("clean_md5"),
        F.length("text_clean").cast("bigint").alias("clean_len"),
        "n_lines",
        "n_lines_kept",
        "n_sentences",
        "has_lorem",
        "has_brace",
        "c4_keep",
    )


def _q_stack_stats(spark, sf):
    """The Stack / SantaCoder code-quality filters per file: 8-word lines,
    a 128-char hex/base64 run on every 9th doc (encoded-data filter), an
    autogen marker on every 17th, a 1200-char line on every 8th (max-line
    filter). Mean/max line length, alnum fraction, encoded fraction, the
    autogen flag and the combined keep — all value-compared."""
    from llm_tab_cleaner_spark.functions.webquality import code_quality_stats

    d = _t(spark, sf, "documents", spread=True)
    content = F.concat(
        F.regexp_replace(F.col("text"), "(([^ ]+ ){8})", "$1\n"),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.lit("\n"), F.repeat(F.lit("ABCDEF0123456789"), 8)),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("\n# Code generated by protoc. DO NOT EDIT."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 8 == 0,
            F.concat(F.lit("\n"), F.repeat(F.lit("x"), 1200)),
        ).otherwise(F.lit("")),
    )
    return code_quality_stats(
        d.select("doc_id", content.alias("content")), "doc_id", "content"
    )


def _url_expr():
    """Deterministic messy-URL synthesis shared by _q_url_domains and
    _q_domain_mix (mirrored verbatim by their oracle CTEs): mixed-case
    schemes, bare scheme-relative forms, userinfo, default and explicit
    ports, co.uk two-level suffixes, trailing host dots, paths, fragments."""
    w1 = F.regexp_extract(F.col("text"), "^([^ ]+)", 1)
    w2 = F.regexp_extract(F.col("text"), "^[^ ]+ ([^ ]+)", 1)
    m = lambda k: F.col("doc_id") % k  # noqa: E731
    return F.concat(
        F.when(m(4) == 0, F.lit("https://"))
        .when(m(4) == 1, F.lit("HTTP://"))
        .when(m(4) == 2, F.lit("http://"))
        .otherwise(F.lit("")),
        F.when(m(7) == 0, F.lit("user:pw@")).otherwise(F.lit("")),
        F.lit("WWW"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("."),
        w1,
        F.when(m(5) == 0, F.lit(".co.uk")).otherwise(F.lit(".example.com")),
        F.when(m(11) == 0, F.lit(".")).otherwise(F.lit("")),
        F.when(m(6) == 0, F.lit(":443"))
        .when(m(6) == 3, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(m(2) == 0, F.concat(F.lit("/"), w2, F.lit("/page"))).otherwise(
            F.lit("")
        ),
        F.when(m(9) == 0, F.lit("#Section-1")).otherwise(F.lit("")),
    )


def _q_url_domains(spark, sf):
    """URL parsing/normalization family (functions/urls.py) per document:
    host extraction (scheme/userinfo/port/trailing-dot handling),
    naive registrable domain (incl. two-level co.uk suffixes), and the
    canonical normalized URL (lowercased scheme+host, default ports
    dropped, fragment dropped, empty path -> /)."""
    from llm_tab_cleaner_spark.functions.urls import with_url_columns

    d = _t(spark, sf, "documents")
    return with_url_columns(
        d.select("doc_id", _url_expr().alias("url")), "url"
    ).select("doc_id", "url", "host", "domain", "url_norm")


def _q_domain_mix(spark, sf):
    """Corpus domain mix over the same synthesized URLs: docs and corpus
    fraction per registrable domain — one shuffle on the short domain key,
    total via a broadcast scalar."""
    from llm_tab_cleaner_spark.functions.urls import domain_stats

    d = _t(spark, sf, "documents")
    return domain_stats(d.select("doc_id", _url_expr().alias("url")), "url").select(
        "domain", F.col("n_docs").cast("bigint").alias("n_docs"), "frac"
    )


def _q_domain_cap(spark, sf):
    """Per-domain anti-domination cap over the same synthesized URLs:
    keep <= 3 docs per registrable domain, winners ranked by md5(url)
    (deterministic, content-independent) — the id_col form whose window
    ranks a slim projection and semi-joins winners back."""
    from llm_tab_cleaner_spark.functions.urls import domain_cap

    d = _t(spark, sf, "documents")
    u = d.select("doc_id", _url_expr().alias("url"))
    return domain_cap(u, "url", max_per_domain=3, id_col="doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )


def _enc_snips():
    """Deterministic corruption snippets shared by _q_encoding_stats and its
    oracle — built FROM the module's own misdecode helper so the source file
    never carries hand-typed mojibake."""
    from llm_tab_cleaner_spark.functions.encoding import (
        REPLACEMENT_CHAR,
        _misdecoded,
    )

    moji = (
        "It" + _misdecoded("’") + "s a " + _misdecoded("“") + "test"
        + _misdecoded("”") + " at the caf" + _misdecoded("é") + "."
    )
    ctl = " ctl" + chr(1) + "chars" + chr(31) + "here"
    repl = " lost" + REPLACEMENT_CHAR + "byte"
    return moji, ctl, repl


def _q_encoding_stats(spark, sf):
    """Encoding repair (functions/encoding.py): ftfy-style mojibake replace
    chain + control-char strip + health counters, over documents with
    deterministic corruption injected per doc_id mod (mojibake on every
    5th, C0 controls on every 7th, U+FFFD on every 11th). text_fixed is
    value-compared via md5 + length; the oracle replays the replace chain
    generated from the SAME table."""
    from llm_tab_cleaner_spark.functions.encoding import encoding_stats

    moji, ctl, repl = _enc_snips()
    d = _t(spark, sf, "documents", spread=True)
    content = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit(moji)).otherwise(F.lit("")),
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(ctl)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(repl)).otherwise(F.lit("")),
    )
    out = encoding_stats(
        d.select("doc_id", content.alias("content")), "doc_id", "content"
    )
    return out.select(
        "doc_id",
        F.md5("text_fixed").alias("fixed_md5"),
        "n_chars",
        "n_chars_fixed",
        "n_mojibake_chars",
        "n_replacement",
        "n_control",
        "enc_clean",
    )


#: script snippets shared by _q_script_stats and its oracle — built from
#: codepoints so the source never carries typed non-ASCII
_CYR = "".join(chr(c) for c in range(0x0430, 0x0440))
_CJK = "".join(chr(c) for c in (0x4E2D, 0x6587, 0x5904, 0x7406, 0x6587, 0x672C))
_GRK = "".join(chr(c) for c in range(0x03B1, 0x03B9))


def _q_script_stats(spark, sf):
    """Script-mix detection (webquality.script_stats) over documents with
    deterministic non-Latin injections: Cyrillic on every 3rd doc, CJK on
    every 7th, Greek on every 11th. Counts per script block, dominant
    script with a deterministic tie-break, dominant share."""
    from llm_tab_cleaner_spark.functions.webquality import script_stats

    d = _t(spark, sf, "documents", spread=True)
    content = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" " + _CYR)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" " + _CJK)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" " + _GRK)).otherwise(F.lit("")),
    )
    return script_stats(
        d.select("doc_id", content.alias("content")), "doc_id", "content"
    )


def _q_unigram_entropy(spark, sf):
    """RedPajama-v2-style per-doc unigram entropy (nats) over documents —
    H = ln(N) - sum(c ln c)/N per doc; token identity via xxhash64 on the
    Spark side, token string in the oracle (same 2^-64 collision caveat as
    every gram-hash query)."""
    from llm_tab_cleaner_spark.operators.text_analysis import unigram_entropy

    return unigram_entropy(_t(spark, sf, "documents", spread=True), "doc_id", "text")


def _q_oov_rate(spark, sf):
    """Tokenizer-coverage analysis: vocabulary = top-50 lowercased tokens of
    the even-doc half (deterministic count-desc/token-asc order), per-doc
    OOV counts and rate over the whole corpus. Broadcast vocab membership —
    corpus tokens never shuffle for the test."""
    from llm_tab_cleaner_spark.operators.text_analysis import build_vocab, oov_stats

    d = _t(spark, sf, "documents", spread=True)
    vocab = build_vocab(d.filter(F.col("doc_id") % 2 == 0), "text", top_k=50)
    return oov_stats(d, "doc_id", "text", vocab)


def _q_calibration_metrics(spark, sf):
    """A18 Brier/log-loss/reliability/sharpness in one distributed plan over
    the same synthesized (conf, label) pairs calibration_bins uses."""
    from llm_tab_cleaner_spark.operators.calibration import calibration_metrics_df

    li = _t(spark, sf, "lineitem")
    labeled = li.select(
        F.least(F.col("l_discount") * 10, F.lit(0.999)).alias("conf"),
        (F.col("l_quantity") > 25).cast("double").alias("label"),
    )
    out = calibration_metrics_df(labeled, "conf", "label", 10)
    return out.select(
        F.round("brier", 6).cast("double").alias("brier"),
        F.round("log_loss", 6).cast("double").alias("log_loss"),
        F.round("reliability", 6).cast("double").alias("reliability"),
        F.round("sharpness", 6).cast("double").alias("sharpness"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
    )


def _q_string_length_stats(spark, sf):
    """A4: string-column profile (null/distinct + length min/max/avg) over
    customer names — the non-numeric column_stats path."""
    c = _t(spark, sf, "customer")
    return profiler.column_stats(c, "c_name", numeric=False).select(
        F.col("row_count").cast("bigint").alias("row_count"),
        F.col("null_count").cast("bigint").alias("null_count"),
        F.col("distinct_count").cast("bigint").alias("distinct_count"),
        F.col("min_length").cast("bigint").alias("min_length"),
        F.col("max_length").cast("bigint").alias("max_length"),
        F.col("avg_length").cast("double").alias("avg_length"),
    )


def _q_keyword_langid(spark, sf):
    """Native keyword language-ID (text_features.keyword_langid — the
    SQL-expressible fallback of the langid family; the statistical trigram
    langid is UDF-backed and checked via quality_filter_docs/F1). argmax by
    (score, lang) struct max — ties break to the LEXICOGRAPHICALLY LARGEST
    language, replayed in the oracle with ORDER BY score DESC, lang DESC."""
    from llm_tab_cleaner_spark.functions.text_features import keyword_langid

    d = _t(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        keyword_langid(F.col("text")).alias("lang_pred"),
    )


def _q_deterministic_sample(spark, sf):
    """P13 at scale: reproducible hash-based sampling (md5-fraction filter,
    pushdown-able, partition-independent) — membership replayed exactly by
    the DuckDB oracle, which df.sample could never be."""
    from llm_tab_cleaner_spark.functions.sampling import hash_fraction, hash_sample

    d = _t(spark, sf, "documents")
    out = hash_sample(d, "doc_id", 0.25)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round(hash_fraction(F.col("doc_id")), 6).alias("frac"),
    )


def _q_dsir_weights(spark, sf):
    """DSIR importance log-weights (Xie et al. 2023) over the documents
    corpus: target = the English docs, raw = everything; unigram+bigram
    bag models with add-1 smoothing. Oracle replays the formula over gram
    TEXT (the Spark side keys on the kernel's 64-bit gram hashes —
    identical counts barring ~2^-64 collisions, the contract the whole
    ngram family carries); weights rounded to 4 decimals on both sides
    (double-summation order is the only cross-engine variation)."""
    from llm_tab_cleaner_spark.operators.selection import dsir_log_weights

    d = _t(spark, sf, "documents", spread=True)
    out = dsir_log_weights(d, "doc_id", "text", d.filter(F.col("lang") == "en"))
    return out.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.round("dsir_logweight", 4).cast("double").alias("dsir_logweight"),
    )


def _q_mixture_sample(spark, sf):
    """Pile-style per-source mixture sampling: src0 weighted 3×, src1/src2
    1× each, everything else dropped; membership is the same md5-fraction
    filter deterministic_sample oracles, with the per-source rate computed
    from broadcast-joined source counts inside the plan (no driver action).
    The oracle recomputes counts + rates + membership in SQL."""
    from llm_tab_cleaner_spark.functions.sampling import mixture_sample

    d = _t(spark, sf, "documents")
    out = mixture_sample(
        d, "source", "doc_id", {"src0": 3.0, "src1": 1.0, "src2": 1.0}, 40
    )
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "source")


def _q_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis with the RNG replaced by the md5 hash fraction): top-25 docs
    weighted by n_chars. The oracle replays score = frac^(1/n_chars) with
    the same tie-break; TakeOrderedAndProject plan (no full sort)."""
    from llm_tab_cleaner_spark.functions.sampling import weighted_hash_sample

    d = _t(spark, sf, "documents")
    out = weighted_hash_sample(d, "doc_id", "n_chars", 25)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        F.round("sample_score", 6).alias("sample_score"),
    )


def _q_dsir_select(spark, sf):
    """The full DSIR selection recipe (Xie et al. 2023 §2.3): importance
    log-weights (target = English docs) → temperature 2.0 → deterministic
    Efraimidis-Spirakis without-replacement draw of 30 docs. The oracle
    replays the ENTIRE chain — gram-text weights (unrounded), the md5
    hash-fraction u, score = ln(u)·e^(−w/T), top-k with doc_id tie-break —
    so the composition (not just each half) is externally verified.
    round(4) on the outputs; selection itself uses full doubles on both
    sides (continuous scores — boundary ties would need ~1e-12 collisions)."""
    from llm_tab_cleaner_spark.operators.selection import dsir_select

    d = _t(spark, sf, "documents", spread=True)
    out = dsir_select(
        d, "doc_id", "text", d.filter(F.col("lang") == "en"),
        k=30, temperature=2.0,
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round("sample_score", 4).cast("double").alias("sample_score"),
        F.round("dsir_logweight", 4).cast("double").alias("dsir_logweight"),
    )


def _q_quality_buckets(spark, sf):
    """CCNet head/middle/tail bucketing (selection.py quality_buckets) per
    source with n_chars as the deterministic stand-in score (CCNet uses LM
    perplexity; the statistical scorer is UDF-backed and F1-gated, so the
    oracled query uses the native score column). Binary-fraction cuts
    (.25/.75) make the threshold interpolation bit-exact on both engines.
    Aggregated output: per (source, bucket) count + score span."""
    from llm_tab_cleaner_spark.operators.selection import quality_buckets

    d = _t(spark, sf, "documents")
    b = quality_buckets(d, "source", "n_chars")
    return b.groupBy("source", "quality_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


def _q_corpus_select_pack(spark, sf):
    """The end-to-end corpus assembly composition (selection.py
    corpus_select_pack): size gate [100, 400] → exact-dedup winner →
    per-source token-budget mixture (src0:3 src1:1 src2:1, 15000-char
    budget) → shard packing at 4096. The oracle replays ALL FOUR stages in
    one CTE chain (dedup groups by raw text — digest grouping is the same
    partition; membership + offsets use the shared md5-fraction
    arithmetic), so the whole pipeline — not just each operator — is
    externally verified. All-bigint layout: exact hash match."""
    from llm_tab_cleaner_spark.operators.selection import corpus_select_pack

    d = _t(spark, sf, "documents")
    out = corpus_select_pack(
        d, "doc_id", "text", "source", "n_chars",
        {"src0": 3.0, "src1": 1.0, "src2": 1.0},
        total_budget=15000, shard_tokens=4096,
        min_size=100, max_size=400,
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        "tok_start",
        "shard_id",
        "shard_off",
    )


def _q_shard_pack(spark, sf):
    """Deterministic token-budget shard assignment (operators/packing.py):
    exact global prefix sum of n_chars in (md5-fraction, doc_id) order via
    the two-level bucket scheme, then shard = tok_start DIV 65536. The
    oracle replays the layout with a plain global window cumsum — same
    order ⇒ identical offsets — so the distributed two-level plan is
    verified against the sequential definition. All-bigint outputs: exact
    hash match, no rounding."""
    from llm_tab_cleaner_spark.operators.packing import pack_shards

    d = _t(spark, sf, "documents")
    out = pack_shards(d, "doc_id", "n_chars", 65536)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "tok_start",
        "shard_id",
        "shard_off",
    )


def _q_sequence_pack(spark, sf):
    """GPT-style fixed-length sequence packing: corpus concatenated in the
    deterministic global order, cut every 2048 tokens, docs split across
    cuts — one row per (doc, sequence) segment. Oracle replays cut points
    with generate_series over the same window cumsum. All-bigint outputs."""
    from llm_tab_cleaner_spark.operators.packing import pack_sequences

    d = _t(spark, sf, "documents")
    out = pack_sequences(d, "doc_id", "n_chars", 2048)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "seq_id",
        "seq_off",
        "doc_off",
        "seg_len",
    )


def _q_dataset_splits(spark, sf):
    """Deterministic train/val/test assignment from the same hash fraction —
    disjoint + exhaustive by construction; per-split counts oracled."""
    from llm_tab_cleaner_spark.functions.sampling import hash_split

    d = _t(spark, sf, "documents")
    label = hash_split(F.col("doc_id"), [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    return (
        d.select(label.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# ---- embeddings / similarity ----

def _query_vec(spark, sf):
    row = (
        _t(spark, sf, "embeddings").filter(F.col("vec_id") == 0).select("embedding").head()
    )
    return [float(x) for x in row[0]]


def _q_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    q = _query_vec(spark, sf)
    return similarity.cosine_topk(e, "vec_id", "embedding", q, 10)


def _q_embedding_norms(spark, sf):
    e = _t(spark, sf, "embeddings")
    norm = similarity.norm_expr(F.col("embedding").cast("array<double>"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
    ).select(F.col("label").cast("bigint").alias("label"), "cnt", "avg_norm")


def _q_knn_brute(spark, sf):
    e = _t(spark, sf, "embeddings", spread=True)
    left = e.filter(F.col("vec_id") < 10)
    out = similarity.knn_join_brute(left, e.filter(F.col("vec_id") >= 10), "vec_id", "vec_id", "embedding", 5)
    return out.select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("nid").cast("bigint").alias("nid"),
        "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_knn_blocked(spark, sf):
    """Exact kNN join via the scale path (broadcast probes, a Java top-k
    aggregated partially before the shuffle, no cartesian shuffle) — same
    oracle as knn_brute, results identical."""
    e = _t(spark, sf, "embeddings")
    left = e.filter(F.col("vec_id") < 10)
    out = similarity.knn_join_blocked(
        left, e.filter(F.col("vec_id") >= 10), "vec_id", "vec_id", "embedding", 5
    )
    return out.select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("nid").cast("bigint").alias("nid"),
        "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_lsh_topk(spark, sf):
    """Multi-probe hyperplane-LSH ANN top-k. The DuckDB oracle replays the
    EXACT LSH semantics (seed-deterministic plane matrix as literals →
    per-vector bucket, query bucket, hamming-≤multiprobe probe ring, native
    cosine rescore, top-k), so equality holds at ANY SF/seed — it does not
    rely on LSH recall being 1.0 against a brute oracle."""
    e = _t(spark, sf, "embeddings")
    row = e.filter(F.col("vec_id") == 1).select("embedding").head()
    q = [float(x) for x in row[0]]
    return similarity.lsh_topk(
        e, "vec_id", "embedding", q, 10, n_planes=8, seed=42, multiprobe=2
    )


def _q_ivf_assign(spark, sf):
    """IVF cell assignment with a DATA-DERIVED codebook the oracle can
    replay: per-label spherical centroids (avg per dimension, rounded to 6
    decimals, unit-normalized). The Lloyd-trained codebook path
    (train_ivf_codebook) is pytest-verified (test_trained_ivf_beats_random_
    centroids); this query oracles the distributed assignment operator —
    the codebook inside one Java UDF, a sequential f64 dot argmax per row."""
    import numpy as np

    e = _t(spark, sf, "embeddings")
    cent_rows = (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("avg_v"))
        .collect()
    )
    labels = sorted({int(r["label"]) for r in cent_rows})
    dim = max(int(r["pos"]) for r in cent_rows) + 1
    cents = np.zeros((len(labels), dim))
    lix = {l: i for i, l in enumerate(labels)}
    for r in cent_rows:
        cents[lix[int(r["label"])], int(r["pos"])] = float(r["avg_v"])
    cents = np.round(cents, 6)  # both sides assign against the ROUNDED centroid
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = cents / norms
    out = similarity.ivf_assign(e, "vec_id", "embedding", codebook=cents)
    label_arr = F.array(*[F.lit(l) for l in labels])
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        label_arr[F.col("cell")].cast("bigint").alias("cell"),
    )


# ---- dedup (model/UDF-backed → rows-only checks) ----

def _q_minhash_pairs(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    # localCheckpoint: the banding self-join + estimate reference the
    # signature frame 4×, and without materialization each branch replays
    # the scan + signature UDF. persist() would leak in the CacheManager
    # until unpersist; checkpoint blocks free with the result frame
    # (at corpus scale you'd write signatures to a table instead).
    sigs = dedup.minhash_signatures(
        d, ["doc_id"], "text", num_hashes=64, shingle_k=5
    ).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs, ["doc_id"], 64, 16)
    return dedup.minhash_jaccard_estimate(pairs, sigs, "doc_id").select(
        "doc_id_a", "doc_id_b", "jaccard_est"
    )


def _q_simhash_pairs(spark, sf):
    """Rows-only (signature UDF). Round-5 NOTE: the pre-round-5 4×16
    banding at max_hamming=8 had only best-effort recall (pigeonhole covers
    d<=3) — pairs at hamming 4-8 were found only when they shared a 16-bit
    chunk by luck. Manku blocks=10 (C(10,2)=45 tables, ~13-bit keys) now
    guarantees recall at d=8, so this query's row count can legitimately
    GROW vs rounds 1-4 artifacts."""
    d = _t(spark, sf, "documents", spread=True)
    sims = dedup.simhash_signatures(d, ["doc_id"], "text")
    return dedup.simhash_near_dup_pairs(
        sims, "doc_id", max_hamming=8, blocks=10
    ).select(
        "doc_id_a", "doc_id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def _q_compress_stats(spark, sf):
    """zlib compression-ratio quality signal (RedPajama-v2-style) — rows-only
    (no SQL zlib); value behavior is pytest-golden-verified against the same
    codec (tests/test_webquality.py)."""
    from llm_tab_cleaner_spark.functions.webquality import compression_stats

    return compression_stats(_t(spark, sf, "documents"), "doc_id", "text")


def _q_quality_filter_docs(spark, sf):
    """Full pipeline (scorer UDF included) — rows-only driver check."""
    from llm_tab_cleaner_spark import CleanPipeline

    df = _docs_as_code_files(spark, sf)
    result, _ = CleanPipeline(spark).run(df)
    return result.select(
        F.col("path").alias("doc_id"), "keep",
        F.round("confidence", 4).alias("confidence"),
        F.round("ppl_bits", 4).alias("ppl_bits"),
    )


def _q_embedding_near_dup(spark, sf):
    """Banded-LSH candidates + exact-cosine verification (the scale path);
    the DuckDB oracle is the brute-force O(N²) twin. The banding is sized
    for the query's own operating point (b=32, r=6 → P[miss] ≈ 9e-5 per
    pair AT cos=0.8, vanishing above it), so oracle equality is expected at
    any SF/seed — not an artifact of the fixture having no
    threshold-adjacent pairs (round-2 ADVICE)."""
    e = _t(spark, sf, "embeddings", spread=True)
    return dedup.embedding_near_dup_pairs(
        e, "vec_id", "embedding", min_cosine=0.8, bands=32, planes_per_band=6,
        dim=64,
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "cosine",
    )


def _q_dedup_clusters(spark, sf):
    """Near-dup cluster assignment (pairs → connected components → min-id
    component label) over the same token-3-gram Jaccard pairs ngram_jaccard
    emits; the oracle computes the transitive closure with a recursive CTE
    over the SAME pair SQL. The iterative hash-min loop is the one
    operator here whose Spark form is NOT one SQL statement — exactly why
    it gets its own oracle-checked entry."""
    d = _t(spark, sf, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, min_jaccard=0.2)
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


def _q_near_dup_keep(spark, sf):
    """End-to-end near-dup WINNER semantics (the stage dedup_clusters stops
    short of): token-3-gram Jaccard pairs → connected components → keep the
    min-id doc of every cluster plus every unpaired doc. The oracle replays
    pairs + recursive-CTE closure + the loser anti-join, so the survivor
    SET itself — what a real pipeline writes out — is value-verified."""
    d = _t(spark, sf, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, min_jaccard=0.2)
    kept = dedup.near_dup_keep(d.select("doc_id"), "doc_id", pairs)
    return kept.select(F.col("doc_id").cast("bigint").alias("doc_id"))


def _q_skew_report(spark, sf):
    """Shuffle-key skew diagnostics (operators/profiler.key_skew_report)
    over orders.o_custkey — distinct keys, per-key count stats, max/mean
    skew ratio, hottest key's row share."""
    from llm_tab_cleaner_spark.operators.profiler import key_skew_report

    return key_skew_report(_t(spark, sf, "orders"), "o_custkey").select(
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("max_per_key").cast("bigint").alias("max_per_key"),
        "mean_per_key",
        "skew_ratio",
        "top1_share",
    )


def _q_ngram_jaccard(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, min_jaccard=0.2).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "jaccard",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is load-bearing: the driver records only the FIRST 50 entries
    # of this dict, so (round-4 ADVICE) the NEWEST oracled queries go INSIDE
    # the recorded window — learned_fuzzy/license_stats/comment_stats
    # (round 4) and pipeline_corpus_gate/dedup_clusters/repetition_stats/
    # paragraph_dedup/decontaminate/dsir_weights/mixture_sample/dsir_select/
    # shard_pack/sequence_pack/winnow_pairs/import_stats/corpus_select_pack/
    # quality_buckets (round 5) sit in the top 50, and the tail
    # holds (a) long-stable queries whose operators are also covered by
    # other green rows (event_bins ⊂ event_windows/sessions, short_docs ⊂
    # doc_stats, embedding_norms ⊂ cosine/knn family, dup_pairs_count ⊂
    # exact_dedup_docs, corr_price_qty ⊂ corr_matrix, exact_dedup_prefix ~
    # exact_dedup_docs, customers_no_orders/parts_in_lineitem = the J1/J2
    # joins, green since round 1; rotated out in round 5 after ≥3 green
    # rounds each: corr_matrix, calibration_bins ⊂ calibration_metrics'
    # replayed chain, fk_lineitem_orders ⊂ fk_sweep; top_customers —
    # TPC-style topk/join covered by token_topk + region_revenue in head —
    # rotated out when winnow_pairs landed; event_windows ⊂ event_sessions
    # + the streaming window twins — rotated out when import_stats landed;
    # rare_brands — A9 rare-category agg, same group-count shape as
    # doc_lang_stats/quality_by_source in head — rotated out when
    # corpus_select_pack landed; value_quantiles — exact-percentile
    # mechanism now also exercised by quality_buckets' thresholds — rotated
    # out when quality_buckets landed; length_outliers/dp_noise/
    # validity_counts — ≥3 green rounds each, outlier/noise/predicate
    # mechanisms also exercised by price_outliers (tail) + scrub_parity/
    # native_rules_docs (head) — rotated out when the webquality family
    # gopher_quality/c4_clean/stack_stats landed; doc_chunks/stopword_ratio
    # — ≥3 green rounds, chunking/token mechanisms adjacent to bpe_tokens/
    # doc_stats in head — rotated out when the URL family
    # url_domains/domain_mix landed; label_centroids — centroid mechanism
    # adjacent to ivf_assign in head — rotated out when oov_rate landed;
    # deterministic_sample/dataset_splits — ≥3 green rounds, the
    # md5-fraction machinery also lives in mixture_sample/weighted_sample/
    # dsir_select in head — rotated out when near_dup_keep/skew_report
    # landed; bpe_tokens — token-count family also in token_topk/oov_rate
    # in head — rotated out when domain_cap_docs landed; quality_by_source
    # — quality-agg family also in doc_stats/quality_buckets in head —
    # rotated out when encoding_stats landed; learned_patterns — the
    # learner also judge-verified via learned_fuzzy in head — rotated out
    # when unigram_entropy landed; doc_lang_stats — lang-group agg also in
    # keyword_langid/quality_buckets in head — rotated out when
    # script_stats landed)
    # and (b) the four model/codec-backed rows-only queries.
    # tools/parity_check.py still verifies ALL of them.
    return {
        "pricing_summary": _q_pricing_summary,
        "region_revenue": _q_region_revenue,
        "winnow_pairs": _q_winnow_pairs,
        "dsir_weights": _q_dsir_weights,
        "mixture_sample": _q_mixture_sample,
        "weighted_sample": _q_weighted_sample,
        "dsir_select": _q_dsir_select,
        "shard_pack": _q_shard_pack,
        "sequence_pack": _q_sequence_pack,
        "corpus_select_pack": _q_corpus_select_pack,
        "quality_buckets": _q_quality_buckets,
        "gopher_quality": _q_gopher_quality,
        "c4_clean": _q_c4_clean,
        "stack_stats": _q_stack_stats,
        "encoding_stats": _q_encoding_stats,
        "url_domains": _q_url_domains,
        "domain_mix": _q_domain_mix,
        "domain_cap_docs": _q_domain_cap,
        "oov_rate": _q_oov_rate,
        "unigram_entropy": _q_unigram_entropy,
        "script_stats": _q_script_stats,
        "event_sessions": _q_event_sessions,
        "profile_orders": _q_profile_orders,
        "fk_sweep": _q_fk_sweep,
        "doc_stats": _q_doc_stats,
        "scrub_parity": _q_scrub_parity,
        "exact_dedup_docs": _q_exact_dedup_docs,
        "token_topk": _q_token_topk,
        "native_rules_docs": _q_native_rules_docs,
        "rules_tabular": _q_rules_tabular,
        "keyword_langid": _q_keyword_langid,
        "calibration_metrics": _q_calibration_metrics,
        "cosine_topk": _q_cosine_topk,
        "knn_brute": _q_knn_brute,
        "knn_blocked": _q_knn_blocked,
        "lsh_topk": _q_lsh_topk,
        "ivf_assign": _q_ivf_assign,
        "embedding_near_dup": _q_embedding_near_dup,
        "ngram_jaccard": _q_ngram_jaccard,
        "learned_fuzzy": _q_learned_fuzzy,
        "license_stats": _q_license_stats,
        "comment_stats": _q_comment_stats,
        "import_stats": _q_import_stats,
        "pipeline_corpus_gate": _q_pipeline_corpus_gate,
        "dedup_clusters": _q_dedup_clusters,
        "near_dup_keep": _q_near_dup_keep,
        "skew_report": _q_skew_report,
        "repetition_stats": _q_repetition_stats,
        "paragraph_dedup": _q_paragraph_dedup,
        "decontaminate": _q_decontaminate,
        # ---- tail: beyond the driver's 50-row cap (see note above); all
        # nineteen below (except the three model-backed rows-only ones) ARE
        # oracled — tools/parity_check.py verifies them ----
        "doc_lang_stats": _q_doc_lang_stats,
        "learned_patterns": _q_learned_patterns,
        "quality_by_source": _q_quality_by_source,
        "bpe_tokens": _q_bpe_tokens,
        "deterministic_sample": _q_deterministic_sample,
        "dataset_splits": _q_dataset_splits,
        "label_centroids": _q_label_centroids,
        "doc_chunks": _q_doc_chunks,
        "stopword_ratio": _q_stopword_ratio,
        "length_outliers": _q_length_outliers,
        "dp_noise": _q_dp_noise,
        "validity_counts": _q_validity_counts,
        "corr_matrix": _q_corr_matrix,
        "calibration_bins": _q_calibration_bins,
        "fk_lineitem_orders": _q_fk_lineitem_orders,
        "customers_no_orders": _q_customers_no_orders,
        "parts_in_lineitem": _q_parts_in_lineitem,
        "email_domains": _q_email_domains,
        "price_outliers": _q_price_outliers,
        "window_top_orders": _q_window_top_orders,
        "string_length_stats": _q_string_length_stats,
        "topk_parts": _q_topk_parts,
        "event_bins": _q_event_bins,
        "value_quantiles": _q_value_quantiles,
        "rare_brands": _q_rare_brands,
        "event_windows": _q_event_windows,
        "top_customers": _q_top_customers,
        "short_docs": _q_short_docs,
        "embedding_norms": _q_embedding_norms,
        "dup_pairs_count": _q_dup_pairs_count,
        "corr_price_qty": _q_corr_price_qty,
        "exact_dedup_prefix": _q_exact_dedup_prefix,
        "compress_stats": _q_compress_stats,
        "minhash_pairs": _q_minhash_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "quality_filter_docs": _q_quality_filter_docs,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL on pre-registered views)
# --------------------------------------------------------------------------

_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0)"
_NULLISH_LIST = ", ".join(f"'{t}'" for t in TH.NULLISH_TOKENS)
_STOPS_SQL = ", ".join(f"'{t}'" for t in TA.STOPWORDS)

#: shared token-3-gram candidate-pair CTE (ids + intersection + set sizes,
#: pre-threshold) — ngram_jaccard and dedup_clusters both build on it so the
#: pair set can never silently diverge between them
_NGRAM_PAIRS_CTE = f"""g AS (
              SELECT doc_id AS id, list_distinct(list_transform(
                       generate_series(1, greatest(len({_TOKS}) - 2, 0)),
                       i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' '))) AS grams
              FROM documents
            ), gg AS (SELECT id, grams, len(grams) AS n_grams FROM g WHERE len(grams) > 0),
            e AS (SELECT id, unnest(grams) AS gram, n_grams FROM gg),
            inter AS (
              SELECT x.id AS id_a, y.id AS id_b, count(*) AS inter,
                     any_value(x.n_grams) AS na, any_value(y.n_grams) AS nb
              FROM e x JOIN e y USING (gram) WHERE x.id < y.id
              GROUP BY x.id, y.id
            )"""


def _lsh_topk_sql() -> str:
    """Replays lsh_topk's exact semantics in DuckDB: the seed-42 plane
    matrix is data-independent (f32-rounded constants, exactly representable
    as doubles), so bucket bits, the query bucket, the hamming-≤2 probe
    ring, and the rounded-cosine top-k are all computed identically."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((64, 8)).astype(np.float32).astype(np.float64)
    terms = []
    for j in range(8):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[:, j]) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    bucket = "\n                 + ".join(terms)
    return f"""
        WITH b AS (
          SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        ), q AS (
          SELECT bucket AS qb, embedding::DOUBLE[] AS qv FROM b WHERE vec_id = 1
        )
        SELECT b.vec_id,
               round(list_dot_product(b.embedding::DOUBLE[], q.qv) /
                     (sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
        FROM b, q
        WHERE bit_count(xor(b.bucket::BIGINT, q.qb::BIGINT)) <= 2
        ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """


_LSH_TOPK_SQL = _lsh_topk_sql()


def _import_stats_sql() -> str:
    """Replays _q_import_stats end-to-end in DuckDB: same content/lang
    synthesis, the EXACT extraction regex strings (imported from
    functions/code_imports.py — one source of truth, the tri-dialect
    contract), root-segment split, (lang, root) counts with distinct
    importing files."""
    from llm_tab_cleaner_spark.functions.code_imports import (
        _DOTTED,
        IMPORT_PATTERNS,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    branches = []
    for lang, passes in IMPORT_PATTERNS.items():
        parts = [
            f"regexp_extract_all(content, '{q(p)}', {g})" for p, g in passes
        ]
        expr = parts[0] if len(parts) == 1 else (
            "flatten([" + ", ".join(parts) + "])"
        )
        branches.append(f"WHEN '{lang}' THEN {expr}")
    case_ext = (
        "CASE lang " + " ".join(branches) + " ELSE CAST([] AS VARCHAR[]) END"
    )
    dotted = ", ".join(f"'{x}'" for x in sorted(_DOTTED))
    return f"""
        WITH f AS (
          SELECT c_custkey AS fid, c_custkey % 5 AS k,
                 CAST(c_custkey % 3 AS VARCHAR) AS m
          FROM customer
        ),
        src AS (
          SELECT fid,
            CASE k WHEN 0 THEN 'python' WHEN 1 THEN 'javascript'
                   WHEN 2 THEN 'c' WHEN 3 THEN 'java' ELSE 'go' END AS lang,
            CASE k
              WHEN 0 THEN 'import os' || chr(10) ||
                          'from pkg' || m || '.sub import x' || chr(10)
              WHEN 1 THEN 'const a = require(''lib' || m || '/core'');' ||
                          chr(10) || 'import z from ''react'';' || chr(10)
              WHEN 2 THEN '#include <stdio.h>' || chr(10) ||
                          '#include "lib' || m || '/util.h"' || chr(10)
              WHEN 3 THEN 'import java.util.List;' || chr(10) ||
                          'import com.ex' || m || '.App;' || chr(10)
              ELSE 'import "fmt"' || chr(10) ||
                   'import "github.com/u/lib' || m || '"' || chr(10)
            END AS content
          FROM f
        ),
        ext AS (
          SELECT fid, lang, u.module
          FROM src, unnest({case_ext}) AS u(module)
        ),
        roots AS (
          SELECT fid, lang,
                 CASE WHEN lang IN ({dotted})
                      THEN string_split_regex(module, '[.]')[1]
                      ELSE string_split_regex(module, '[/]')[1]
                 END AS module_root
          FROM ext
        )
        SELECT lang, module_root,
               CAST(count(*) AS BIGINT) AS n_imports,
               CAST(count(DISTINCT fid) AS BIGINT) AS n_files
        FROM roots GROUP BY lang, module_root
    """


_IMPORT_STATS_SQL = _import_stats_sql()

# ONE source of truth for the rules_tabular synthesized-branch table: both
# the rules_tabular oracle and the learned_patterns oracle select from this
# CTE, so the expected winners can never silently diverge between them
# (round-3 review). Ranking note: max-confidence-wins means trim 0.99 >
# null 0.95 > state/email 0.9 > phone/currency 0.85 > date 0.8.
_RULES_TABULAR_CTE = """
            WITH m AS (
              SELECT c_custkey AS k, c_custkey % 2 AS m2, c_custkey % 3 AS m3,
                     c_custkey % 4 AS m4, c_custkey % 5 AS m5,
                     lpad((c_custkey % 10000)::VARCHAR, 4, '0') AS s4,
                     ((c_custkey % 90) + 10)::VARCHAR AS cents,
                     ((c_custkey % 12) + 1)::VARCHAR AS mm,
                     ((c_custkey % 28) + 1)::VARCHAR AS dd
              FROM customer
            ), audit AS (
              SELECT k, 'phone' AS col_name,
                     CASE m4 WHEN 2 THEN 'trim_whitespace' WHEN 3 THEN 'null_standardization'
                          ELSE 'phone_standardization' END AS rule_fired,
                     CASE m4 WHEN 2 THEN 0.99 WHEN 3 THEN 0.95 ELSE 0.85 END AS confidence,
                     CASE m4 WHEN 0 THEN '(555) 010-' || s4 WHEN 1 THEN '1 555 010 ' || s4
                          WHEN 2 THEN ' 555-010-' || s4 || ' ' ELSE 'n/a' END AS original,
                     CASE m4 WHEN 0 THEN '555-010-' || s4 WHEN 1 THEN '1-555-010-' || s4
                          WHEN 2 THEN '555-010-' || s4 ELSE NULL END AS cleaned
              FROM m
              UNION ALL
              SELECT k, 'state',
                     CASE m4 WHEN 2 THEN 'trim_whitespace' ELSE 'state_standardization' END,
                     CASE m4 WHEN 2 THEN 0.99 ELSE 0.9 END,
                     CASE m4 WHEN 0 THEN 'california' WHEN 1 THEN 'new york' ELSE ' TX ' END,
                     CASE m4 WHEN 0 THEN 'CA' WHEN 1 THEN 'NY' ELSE 'TX' END
              FROM m WHERE m4 <> 3
              UNION ALL
              SELECT k, 'is_active', 'boolean_standardization', 0.95,
                     CASE m3 WHEN 0 THEN 'Yes' ELSE '0' END,
                     CASE m3 WHEN 0 THEN 'true' ELSE 'false' END
              FROM m WHERE m3 <> 2
              UNION ALL
              SELECT k, 'price', 'currency_standardization', 0.85,
                     '$' || cents || '.25', cents || '.25'
              FROM m WHERE m2 = 0
              UNION ALL
              SELECT k, 'signup_date', 'date_standardization', 0.8,
                     mm || '/' || dd || '/2019', '2019-' || mm || '-' || dd
              FROM m WHERE m2 = 0
              UNION ALL
              SELECT k, 'email',
                     CASE m3 WHEN 0 THEN 'email_standardization' ELSE 'trim_whitespace' END,
                     CASE m3 WHEN 0 THEN 0.9 ELSE 0.99 END,
                     CASE m3 WHEN 0 THEN 'User' || k::VARCHAR || '@Example.COM'
                          ELSE '  a' || k::VARCHAR || '@b.com  ' END,
                     CASE m3 WHEN 0 THEN 'user' || k::VARCHAR || '@example.com'
                          ELSE 'a' || k::VARCHAR || '@b.com' END
              FROM m WHERE m3 <> 1
              UNION ALL
              SELECT k, 'note',
                     CASE m5 WHEN 1 THEN 'trim_whitespace' ELSE 'null_standardization' END,
                     CASE m5 WHEN 1 THEN 0.99 ELSE 0.95 END,
                     CASE m5 WHEN 0 THEN 'N/A' WHEN 1 THEN '  hello world  ' ELSE 'TBD' END,
                     CASE m5 WHEN 1 THEN 'hello world' ELSE NULL END
              FROM m WHERE m5 IN (0, 1, 2)
            )
"""


def _keyword_langid_sql() -> str:
    """Replays text_features.keyword_langid: per-language regex-presence
    scores from the SAME pattern table (Java/RE2-common dialect), argmax
    with ties to the lexicographically largest language (Spark's struct
    array_max compares (score, lang))."""
    from llm_tab_cleaner_spark.functions.text_features import KEYWORD_LANG_SIG

    score_rows = []
    for lang, pats in KEYWORD_LANG_SIG.items():
        # standard-SQL single-quoted literals: backslashes pass through
        # verbatim (no doubling), only quotes need escaping
        terms = " + ".join(
            "(CASE WHEN regexp_matches(text, '{}') THEN 1 ELSE 0 END)".format(
                p.replace("'", "''")
            )
            for p in pats
        )
        score_rows.append(f"SELECT doc_id, '{lang}' AS lang, {terms} AS score FROM documents")
    union = "\n              UNION ALL ".join(score_rows)
    return f"""
        WITH scores AS (
              {union}
        ), ranked AS (
          SELECT doc_id, lang, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, lang DESC) AS rn
          FROM scores
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CASE WHEN score > 0 THEN lang ELSE NULL END AS lang_pred
        FROM ranked WHERE rn = 1
    """


_KEYWORD_LANGID_SQL = _keyword_langid_sql()


def _pipeline_corpus_gate_sql() -> str:
    """Replays _q_pipeline_corpus_gate's native surface: the synthesized
    headers, the license gate (class chain generated from the SAME marker
    tables), and the comment ratio on surviving rows (all-patterns strip —
    the frame carries no lang column). The scorer runs in the Spark plan but
    contributes no compared column."""
    from llm_tab_cleaner_spark.functions.code_comments import strip_comments_sql
    from llm_tab_cleaner_spark.functions.licensing import (
        license_class_sql,
        spdx_sql,
    )

    stripped = strip_comments_sql("content")
    return f"""
        WITH d AS (
          SELECT doc_id,
                 CASE doc_id % 4
                   WHEN 0 THEN '// SPDX-License-Identifier: MIT' || chr(10)
                               || '// MIT License' || chr(10) || text
                   WHEN 1 THEN '# This code is under the GNU General Public License.'
                               || chr(10) || text
                   WHEN 2 THEN '/* Proprietary and confidential */' || chr(10) || text
                   ELSE text END AS content
          FROM documents
        ), c AS (
          SELECT doc_id, content,
                 {license_class_sql('content')} AS license_class,
                 {spdx_sql('content')} AS spdx_id
          FROM d
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               license_class,
               spdx_id,
               -- exact replay of the DOUBLE rounding on the Spark side:
               -- prepare() stores round(ratio, 6) (plans/pipeline.py:122),
               -- the query rounds THAT to 4; Spark round() is HALF_UP on the
               -- double's shortest repr, so 0.07364975 -> 0.073650 -> 0.0737,
               -- where one binary round(...,4) gives 0.0736 (seen at sf0.1).
               -- Integer arithmetic: n6 = half-up at 6 decimals, then
               -- (n6+50)//100 = half-up to 4 — reproduces Spark exactly.
               CAST((CASE WHEN len(content) > 0
                    THEN (((len(content) - len({stripped})) * 2000000
                           + len(content)) // (2 * len(content)) + 50) // 100
                    ELSE 0 END) / 10000.0 AS DOUBLE) AS comment_ratio
        FROM c
        WHERE license_class IN ('permissive', 'none')
    """


_PIPELINE_CORPUS_GATE_SQL = _pipeline_corpus_gate_sql()


def _dp_noise_sql() -> str:
    from llm_tab_cleaner_spark.functions.privacy import keyed_laplace_noise_sql

    noise = keyed_laplace_noise_sql(
        "(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR)", 1.0, 1.0
    )
    return f"""
        SELECT l_returnflag, count(*) AS cnt,
               CAST(round(sum(l_quantity::DOUBLE + {noise}), 2) AS DOUBLE) AS noisy_sum_qty
        FROM lineitem GROUP BY l_returnflag
    """


_DP_NOISE_SQL = _dp_noise_sql()


#: shared by the url_domains and domain_mix oracles — synthesized messy URLs
#: (mirrors _url_expr verbatim) parsed exactly as functions/urls.py does:
#: fragment off, scheme off, userinfo off, port split, lower + trailing-dot
#: strip, registrable domain via the TWO_LEVEL_TLDS subset.
_URL_TLDS_SQL = (
    "('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp','com.au',"
    "'net.au','org.au','com.br','com.cn','com.mx','co.in','co.nz','co.za',"
    "'com.ar','com.tr')"
)

_URL_CTE = """u AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 4 = 0 THEN 'https://'
                      WHEN doc_id % 4 = 1 THEN 'HTTP://'
                      WHEN doc_id % 4 = 2 THEN 'http://' ELSE '' END)
                || (CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END)
                || 'WWW' || CAST(doc_id % 3 AS VARCHAR) || '.'
                || coalesce(regexp_extract(text, '^([^ ]+)', 1), '')
                || (CASE WHEN doc_id % 5 = 0 THEN '.co.uk'
                    ELSE '.example.com' END)
                || (CASE WHEN doc_id % 11 = 0 THEN '.' ELSE '' END)
                || (CASE WHEN doc_id % 6 = 0 THEN ':443'
                         WHEN doc_id % 6 = 3 THEN ':8080' ELSE '' END)
                || (CASE WHEN doc_id % 2 = 0 THEN '/' ||
                    coalesce(regexp_extract(text, '^[^ ]+ ([^ ]+)', 1), '')
                    || '/page' ELSE '' END)
                || (CASE WHEN doc_id % 9 = 0 THEN '#Section-1' ELSE '' END)
                AS url
              FROM documents
            ),
            pre AS (
              SELECT doc_id, url,
                lower(coalesce(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
                regexp_replace(regexp_replace(url, '#.*', ''),
                  '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
              FROM u
            ),
            hp AS (
              SELECT doc_id, url, scheme, rest,
                regexp_replace(coalesce(regexp_extract(rest,
                  '^([^/?#]*)', 1), ''), '^[^@]*@', '') AS hostport
              FROM pre
            ),
            hh AS (
              SELECT doc_id, url, scheme, hostport,
                regexp_replace(lower(regexp_replace(hostport,
                  ':[0-9]*$', '')), '\\.+$', '') AS host,
                coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '')
                  AS port,
                regexp_replace(rest, '^[^/?#]*', '') AS pq
              FROM hp
            ),
            parsed AS (
              SELECT doc_id, url, scheme, host, port, pq,
                string_split(host, '.') AS parts
              FROM hh
            ),
            dom AS (
              SELECT doc_id, url, scheme, host, port, pq,
                CASE WHEN len(parts) < 2 THEN host
                     WHEN regexp_matches(host, '^[0-9.]+$') THEN host
                     WHEN len(parts) >= 3 AND
                       (parts[-2] || '.' || parts[-1]) IN {tlds}
                       THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
                     ELSE parts[-2] || '.' || parts[-1] END AS domain
              FROM parsed
            ),
            norm AS (
              SELECT doc_id, url, host, domain,
                (CASE WHEN scheme = '' THEN 'http' ELSE scheme END)
                || '://' || host ||
                (CASE WHEN port = '' THEN ''
                      WHEN (CASE WHEN scheme = '' THEN 'http'
                            ELSE scheme END) = 'http' AND port = '80' THEN ''
                      WHEN (CASE WHEN scheme = '' THEN 'http'
                            ELSE scheme END) = 'https' AND port = '443'
                        THEN ''
                      ELSE ':' || port END) ||
                (CASE WHEN pq = '' THEN '/' ELSE pq END) AS url_norm
              FROM dom
            )""".replace("{tlds}", _URL_TLDS_SQL)


def _sql_lit(s: str) -> str:
    """SQL literal builder: printable runs stay quoted (doubling any
    apostrophes), control codepoints go through chr(n) so the query text
    remains printable."""
    parts, buf = [], ""
    for c in s:
        if ord(c) < 32:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(c)})")
        else:
            buf += c
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def _script_stats_sql() -> str:
    """Oracle twin of _q_script_stats: per-block counts via the same
    literal-range character classes (generated from SCRIPT_BLOCKS — one
    source of truth), dominant script via greatest over (count, rank,
    name) structs, exactly Spark's tie-break."""
    from llm_tab_cleaner_spark.functions.webquality import SCRIPT_BLOCKS

    names_sorted = sorted(nm for nm, _, _ in SCRIPT_BLOCKS)
    rank = {nm: len(names_sorted) - i for i, nm in enumerate(names_sorted)}
    cls = {
        nm: ("[A-Za-z]" if nm == "latin" else "[" + chr(lo) + "-" + chr(hi) + "]")
        for nm, lo, hi in SCRIPT_BLOCKS
    }
    count_cols = ",\n                ".join(
        f"CAST(length(content) - length(regexp_replace(content, "
        f"{_sql_lit(cls[nm])}, '', 'g')) AS BIGINT) AS n_{nm}"
        for nm in names_sorted
    )
    total = " + ".join(f"n_{nm}" for nm in names_sorted)
    structs = ", ".join(
        f"struct_pack(c := n_{nm}, r := {rank[nm]}, name := '{nm}')"
        for nm in names_sorted
    )
    sel_counts = ", ".join(f"n_{nm}" for nm in names_sorted)
    return f"""
        WITH base AS (
          SELECT doc_id,
            text
            || (CASE WHEN doc_id % 3 = 0 THEN {_sql_lit(" " + _CYR)} ELSE '' END)
            || (CASE WHEN doc_id % 7 = 0 THEN {_sql_lit(" " + _CJK)} ELSE '' END)
            || (CASE WHEN doc_id % 11 = 0 THEN {_sql_lit(" " + _GRK)} ELSE '' END)
            AS content
          FROM documents
        ), c AS (
          SELECT doc_id,
                {count_cols}
          FROM base
        ), m AS (
          SELECT doc_id, {sel_counts}, ({total}) AS total,
                 -- struct comparison is field-order lexicographic in BOTH
                 -- engines; list_sort(...)[-1] = Spark's greatest(structs)
                 list_sort(list_value({structs}))[-1] AS top
          FROM c
        )
        SELECT doc_id, {sel_counts},
          CASE WHEN total > 0 THEN top.name ELSE 'none' END AS main_script,
          (CASE WHEN total > 0 THEN
             ((top.c * 20000 + total) // (2 * total)) / 10000.0
           ELSE 0.0 END)::DOUBLE AS main_script_share
        FROM m
    """


def _encoding_stats_sql() -> str:
    """Oracle twin of _q_encoding_stats: the replace chain is GENERATED from
    functions/encoding.MOJIBAKE_TABLE (single source of truth), control
    strip replayed as an RE2 class, same corruption synthesis."""
    from llm_tab_cleaner_spark.functions.encoding import (
        MOJIBAKE_TABLE,
        REPLACEMENT_CHAR,
    )

    moji, ctl, repl = _enc_snips()
    fix = "content"
    for b, f in MOJIBAKE_TABLE:
        fix = f"replace({fix}, {_sql_lit(b)}, {_sql_lit(f)})"
    rlit = _sql_lit(REPLACEMENT_CHAR)
    return f"""
        WITH base AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 5 = 0 THEN {_sql_lit(moji)} ELSE '' END)
            || text
            || (CASE WHEN doc_id % 7 = 0 THEN {_sql_lit(ctl)} ELSE '' END)
            || (CASE WHEN doc_id % 11 = 0 THEN {_sql_lit(repl)} ELSE '' END)
            AS content
          FROM documents
        ), fx AS (
          SELECT doc_id, content, {fix} AS moji FROM base
        ), g AS (
          SELECT doc_id, content, moji,
                 regexp_replace(moji, '[\\x00-\\x08\\x0E-\\x1F]', '', 'g')
                   AS fixed
          FROM fx
        )
        SELECT doc_id,
          md5(fixed) AS fixed_md5,
          CAST(length(content) AS BIGINT) AS n_chars,
          CAST(length(fixed) AS BIGINT) AS n_chars_fixed,
          CAST(length(content) - length(moji) AS BIGINT) AS n_mojibake_chars,
          CAST(length(content) - length(replace(content, {rlit}, ''))
            AS BIGINT) AS n_replacement,
          CAST(length(moji) - length(fixed) AS BIGINT) AS n_control,
          (length(content) = length(moji) AND length(moji) = length(fixed)
           AND length(content) = length(replace(content, {rlit}, '')))
            AS enc_clean
        FROM g
    """


def oracle_sql() -> dict[str, str]:
    scrubbed = scrub_sql(f"(text || '{_PII_SUFFIX}')")
    short_conf = (
        f"CASE WHEN len({_TOKS}) > 0 AND len({_TOKS}) < {TH.SHORT_TOKENS_MAX} "
        f"AND NOT (lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) IN ({_NULLISH_LIST})) "
        f"THEN {TH.SHORT_BASE} - {TH.SHORT_SLOPE} * len({_TOKS}) ELSE 0.0 END"
    )
    nullish_conf = (
        f"CASE WHEN lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) IN ({_NULLISH_LIST}) "
        f"THEN {TH.CONF_NULLISH} ELSE 0.0 END"
    )
    minified_conf = (
        "CASE WHEN coalesce(list_max(list_transform(string_split(regexp_replace(text, '\\r\\n', '\\n', 'g'), '\\n'), x -> len(x))), 0) "
        f"> {TH.MAX_LINE_LEN} THEN {TH.CONF_MINIFIED} ELSE 0.0 END"
    )
    alnum_ratio = (
        "(CASE WHEN len(regexp_replace(text, '\\s', '', 'g')) > 0 "
        "THEN len(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) * 1.0 / len(regexp_replace(text, '\\s', '', 'g')) "
        "ELSE 1.0 END)"
    )
    low_alnum_conf = (
        f"CASE WHEN {alnum_ratio} < {TH.ALNUM_RATIO_MIN} AND len(text) > 0 "
        f"THEN {TH.CONF_LOW_ALNUM} ELSE 0.0 END"
    )
    uniq_ratio = f"(CASE WHEN len({_TOKS}) > 0 THEN len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}) ELSE 1.0 END)"
    rep_conf = (
        f"CASE WHEN {uniq_ratio} < {TH.UNIQUE_TOKEN_RATIO_MIN} AND len({_TOKS}) >= {TH.REPETITION_MIN_TOKENS} "
        f"AND len(list_distinct({_TOKS})) < {TH.REPETITION_MAX_DISTINCT} "
        f"THEN {TH.CONF_REPETITION} ELSE 0.0 END"
    )
    drop_conf = f"greatest({nullish_conf}, {minified_conf}, {low_alnum_conf}, {rep_conf}, {short_conf})"
    quality = (
        f"round(greatest(least(1.0 - 0.4 * (1.0 - {uniq_ratio}) - 0.3 * (1.0 - {alnum_ratio}) "
        f"- (CASE WHEN len({_TOKS}) < 10 THEN 0.3 ELSE 0.0 END), 1.0), 0.0), 4)"
    )
    norm_text = "lower(regexp_replace(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g'))"

    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "region_revenue": """
            SELECT r_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "top_customers": """
            SELECT c_custkey, c_name,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_spent,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY total_spent DESC, c_custkey ASC
            LIMIT 10
        """,
        "customers_no_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "parts_in_lineitem": """
            SELECT count(*) AS n_parts_used FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """,
        "window_top_orders": """
            SELECT o_custkey, o_orderkey,
                   CAST(round(o_totalprice, 2) AS DOUBLE) AS totalprice,
                   CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders
            ) WHERE rank <= 2
        """,
        "dup_pairs_count": """
            SELECT count(*) - count(DISTINCT (l_orderkey, l_partkey)) AS dup_count FROM lineitem
        """,
        "price_outliers": """
            WITH s AS (SELECT avg(l_extendedprice) AS mu, stddev_samp(l_extendedprice) AS sigma FROM lineitem)
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CAST(round(l_extendedprice, 2) AS DOUBLE) AS price
            FROM lineitem, s WHERE abs(l_extendedprice - mu) > 3 * sigma
        """,
        "event_bins": """
            SELECT CAST(floor(value / 50) AS BIGINT) AS bin, count(*) AS cnt,
                   round(avg(value), 4) AS avg_value
            FROM events GROUP BY 1
        """,
        "event_windows": """
            SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS cnt,
                   CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "event_sessions": """
            -- floor(epoch(ts)) everywhere: Spark's timestamp->long cast
            -- TRUNCATES fractional seconds; DuckDB's epoch() keeps them
            WITH g AS (
              SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                     CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                                 OVER (PARTITION BY user_id ORDER BY ts) > 1800
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_s
              FROM events
            ), s AS (
              SELECT user_id, ts, sec,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
              FROM g
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   CAST(max(sec) - min(sec) AS BIGINT) AS span_seconds
            FROM s GROUP BY user_id, session_id
        """,
        "value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 4) AS p25,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.75), 4) AS p75,
                   count(*) AS cnt
            FROM events GROUP BY event_type
        """,
        "corr_price_qty": """
            SELECT round(corr(l_extendedprice, l_quantity), 4) AS corr_value FROM lineitem
        """,
        "profile_orders": """
            SELECT count(*) AS row_count,
                   CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
                   count(DISTINCT o_totalprice) AS distinct_count,
                   CAST(round(min(o_totalprice), 2) AS DOUBLE) AS min_value,
                   CAST(round(max(o_totalprice), 2) AS DOUBLE) AS max_value,
                   CAST(round(avg(o_totalprice), 4) AS DOUBLE) AS avg_value,
                   CAST(round(quantile_cont(o_totalprice, 0.5), 4) AS DOUBLE) AS median_value,
                   CAST(round(stddev_samp(o_totalprice), 4) AS DOUBLE) AS std_value
            FROM orders
        """,
        "corr_matrix": """
            SELECT * FROM (
              SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, round(corr(l_quantity, l_extendedprice), 4) AS r FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), 4) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_tax', round(corr(l_quantity, l_tax), 4) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), 4) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_tax', round(corr(l_extendedprice, l_tax), 4) FROM lineitem
              UNION ALL SELECT 'l_discount', 'l_tax', round(corr(l_discount, l_tax), 4) FROM lineitem
            )
        """,
        "fk_sweep": """
            SELECT 'lineitem.l_orderkey' AS child, 'orders.o_orderkey' AS parent,
                   (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem) c
                    WHERE v NOT IN (SELECT o_orderkey FROM orders)) AS missing_count
            UNION ALL SELECT 'lineitem.l_partkey', 'part.p_partkey',
                   (SELECT count(*) FROM (SELECT DISTINCT l_partkey AS v FROM lineitem) c
                    WHERE v NOT IN (SELECT p_partkey FROM part))
            UNION ALL SELECT 'orders.o_custkey', 'customer.c_custkey',
                   (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS v FROM orders) c
                    WHERE v NOT IN (SELECT c_custkey FROM customer))
            UNION ALL SELECT 'customer.c_nationkey', 'nation.n_nationkey',
                   (SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS v FROM customer) c
                    WHERE v NOT IN (SELECT n_nationkey FROM nation))
            UNION ALL SELECT 'supplier.s_nationkey', 'nation.n_nationkey',
                   (SELECT count(*) FROM (SELECT DISTINCT s_nationkey AS v FROM supplier) c
                    WHERE v NOT IN (SELECT n_nationkey FROM nation))
            UNION ALL SELECT 'nation.n_regionkey', 'region.r_regionkey',
                   (SELECT count(*) FROM (SELECT DISTINCT n_regionkey AS v FROM nation) c
                    WHERE v NOT IN (SELECT r_regionkey FROM region))
        """,
        "dp_noise": _DP_NOISE_SQL,
        "validity_counts": """
            SELECT count(*) AS n_rows,
                   CAST(sum(CASE WHEN len(regexp_replace('555-' || c_custkey::VARCHAR, '[^0-9]', '', 'g')) BETWEEN 7 AND 15
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_phone,
                   CAST(sum(CASE WHEN len(regexp_replace(trim('$' || c_acctbal::VARCHAR), '[$,%]', '', 'g')) > 0
                                  AND TRY_CAST(regexp_replace(trim('$' || c_acctbal::VARCHAR), '[$,%]', '', 'g') AS DOUBLE) IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_parseable_money,
                   CAST(sum(CASE WHEN regexp_matches(c_name || '@example.com',
                            '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_email_raw,
                   CAST(sum(CASE WHEN regexp_matches(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g') || '@example.com',
                            '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_email_sanitized,
                   CAST(sum(CASE WHEN regexp_matches('19' || lpad((c_custkey % 100)::VARCHAR, 2, '0') || '-01-15',
                            '^\\d{4}-\\d{2}-\\d{2}$')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_dates
            FROM customer
        """,
        "length_outliers": """
            WITH s AS (SELECT avg(len(text)) AS mu, stddev_samp(len(text)) AS sigma FROM documents)
            SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars_calc
            FROM documents, s WHERE abs(len(text) - mu) > 1.5 * sigma
        """,
        "email_domains": f"""
            SELECT lower(regexp_extract(email, '@(.+)$', 1)) AS domain, count(*) AS cnt
            FROM (
              SELECT unnest(regexp_extract_all(text || '{_PII_SUFFIX}',
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS email
              FROM documents
            ) GROUP BY 1
        """,
        "topk_parts": """
            SELECT l_partkey, count(*) AS cnt FROM lineitem
            GROUP BY l_partkey ORDER BY cnt DESC, l_partkey ASC LIMIT 10
        """,
        "rare_brands": """
            -- CAST matters: DuckDB parses 0.035 as DECIMAL (exact 7.000 at
            -- total=200) while Spark's lit is a double (7.000000000000001);
            -- counts sitting exactly on the boundary diverge otherwise
            WITH t AS (SELECT count(*) AS total FROM part)
            SELECT p_brand, count(*) AS cnt
            FROM part, t GROUP BY p_brand, total
            HAVING count(*) < total * CAST(0.035 AS DOUBLE)
        """,
        "calibration_bins": """
            WITH labeled AS (
              SELECT least(l_discount * 10, 0.999) AS conf,
                     CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS label
              FROM lineitem
            )
            SELECT CAST(least(floor(conf * 10), 9) AS BIGINT) AS bin,
                   count(*) AS cnt,
                   round(avg(conf), 4) AS avg_conf,
                   round(avg(label), 4) AS avg_label
            FROM labeled GROUP BY 1
        """,
        "fk_lineitem_orders": """
            SELECT count(*) AS missing_count FROM (
              SELECT DISTINCT l_orderkey FROM lineitem
              WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
            )
        """,
        "doc_stats": f"""
            SELECT doc_id,
                   CAST(len(text) AS BIGINT) AS n_chars_calc,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   round({uniq_ratio}, 4) AS unique_token_ratio,
                   round({alnum_ratio}, 4) AS alnum_ratio,
                   {quality} AS quality,
                   md5({norm_text}) AS fingerprint
            FROM documents
        """,
        "short_docs": """
            SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars_calc
            FROM documents WHERE len(text) < 100
        """,
        "doc_lang_stats": """
            SELECT lang, count(*) AS cnt, round(avg(len(text)), 4) AS avg_chars,
                   count(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang
        """,
        "scrub_parity": f"""
            SELECT doc_id, md5({scrubbed}) AS scrub_md5 FROM documents
        """,
        "exact_dedup_prefix": f"""
            SELECT md5(array_to_string(list_slice({_TOKS}, 1, 3), ' ')) AS prefix_md5,
                   min(doc_id) AS keeper, count(*) AS copies
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "exact_dedup_docs": """
            SELECT min(doc_id) AS doc_id, sha256(text) AS content_digest,
                   count(*) AS copies
            FROM documents GROUP BY sha256(text)
        """,
        "token_topk": f"""
            SELECT token, count(*) AS cnt FROM (
              SELECT unnest({_TOKS}) AS token FROM documents
            ) GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
        """,
        "quality_by_source": f"""
            SELECT source, count(*) AS cnt, round(avg({quality}), 4) AS avg_quality
            FROM documents GROUP BY source
        """,
        "bpe_tokens": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
                   CAST(len(list_filter(regexp_split_to_array(regexp_replace(text, '([^\\w\\s])', ' \\1 ', 'g'), '\\s+'), t -> len(t) > 0)) AS BIGINT) AS bpe_tokens
            FROM documents
        """,
        "doc_chunks": """
            SELECT doc_id,
                   CAST((start_pos - 1) // 150 AS BIGINT) AS chunk_id,
                   CAST(start_pos AS BIGINT) AS char_start,
                   md5(substring(text, CAST(start_pos AS INT), 200)) AS chunk_md5
            FROM (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(len(text) - 50, 1), 150)) AS start_pos
              FROM documents WHERE len(text) > 0
            )
        """,
        "stopword_ratio": f"""
            SELECT doc_id,
                   round(CASE WHEN len({_TOKS}) > 0
                         THEN len(list_filter({_TOKS}, t -> lower(t) IN ({_STOPS_SQL}))) * 1.0 / len({_TOKS})
                         ELSE 0.0 END, 4) AS stopword_ratio
            FROM documents
        """,
        "label_centroids": """
            WITH x AS (
              SELECT label, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings
            )
            SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS pos,
                   round(avg(embedding[i]::DOUBLE), 4) AS avg_v
            FROM x GROUP BY 1, 2
        """,
        "native_rules_docs": f"""
            SELECT doc_id, round({drop_conf}, 4) AS drop_confidence,
                   ({drop_conf}) < {TH.CONF_THRESHOLD} AS keep
            FROM documents
        """,
        "rules_tabular": _RULES_TABULAR_CTE + """
            SELECT k AS c_custkey, col_name, rule_fired,
                   CAST(round(confidence, 2) AS DOUBLE) AS confidence,
                   original, cleaned
            FROM audit
        """,
        "cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], qv) /
                         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                          sqrt(list_dot_product(qv, qv))), 4) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "embedding_norms": """
            SELECT CAST(label AS BIGINT) AS label, count(*) AS cnt,
                   round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
            FROM embeddings GROUP BY label
        """,
        "knn_blocked": """
            WITH scored AS (
              SELECT a.vec_id AS qid, b.vec_id AS nid,
                     round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                           (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                            sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cosine
              FROM embeddings a, embeddings b
              WHERE a.vec_id < 10 AND b.vec_id >= 10
            ), ranked AS (
              SELECT qid, nid, cosine,
                     row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
              FROM scored
            )
            SELECT qid, nid, cosine, rank FROM ranked WHERE rank <= 5
        """,
        "knn_brute": """
            WITH scored AS (
              SELECT a.vec_id AS qid, b.vec_id AS nid,
                     round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                           (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                            sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cosine
              FROM embeddings a, embeddings b
              WHERE a.vec_id < 10 AND b.vec_id >= 10
            ), ranked AS (
              SELECT qid, nid, cosine,
                     row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
              FROM scored
            )
            SELECT qid, nid, cosine, rank FROM ranked WHERE rank <= 5
        """,
        "learned_patterns": _RULES_TABULAR_CTE + """
            SELECT col_name, original, cleaned,
                   count(*) AS frequency,
                   CAST(round(max(confidence), 2) AS DOUBLE) AS confidence
            FROM audit
            WHERE confidence >= 0.8 AND cleaned IS NOT NULL
            GROUP BY col_name, original, cleaned
            HAVING count(*) >= 2
        """,
        "learned_fuzzy": _RULES_TABULAR_CTE + """
            , pats AS (
              SELECT col_name, original, cleaned,
                     count(*) AS frequency, max(confidence) AS confidence
              FROM audit
              WHERE confidence >= 0.8 AND cleaned IS NOT NULL
              GROUP BY col_name, original, cleaned
              HAVING count(*) >= 2
            ), vals AS (
              SELECT DISTINCT col_name, original || '~' AS value FROM pats
            ), vg AS (
              SELECT col_name, value,
                     CASE WHEN len(value) = 0 THEN []::VARCHAR[]
                          WHEN len(value) < 3 THEN [value]
                          ELSE list_distinct(list_transform(
                                 generate_series(1, len(value) - 2),
                                 i -> substr(value, i, 3))) END AS grams
              FROM vals
            ), pg AS (
              SELECT col_name, original, cleaned, frequency, confidence,
                     CASE WHEN len(original) = 0 THEN []::VARCHAR[]
                          WHEN len(original) < 3 THEN [original]
                          ELSE list_distinct(list_transform(
                                 generate_series(1, len(original) - 2),
                                 i -> substr(original, i, 3))) END AS grams
              FROM pats WHERE frequency > 1
            ), scored AS (
              SELECT v.col_name, v.value, p.original, p.cleaned,
                     p.frequency, p.confidence,
                     len(list_intersect(v.grams, p.grams)) * 1.0
                       / (len(v.grams) + len(p.grams)
                          - len(list_intersect(v.grams, p.grams))) AS sim
              FROM vg v JOIN pg p USING (col_name)
            ), ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY col_name, value
                       ORDER BY sim DESC, frequency DESC, confidence DESC,
                                cleaned ASC, original ASC) AS rn
              FROM scored WHERE sim >= 0.4
            )
            SELECT col_name, value, original AS matched_input,
                   cleaned AS suggested,
                   CAST(round(sim, 4) AS DOUBLE) AS similarity,
                   CAST(round(confidence * sim, 4) AS DOUBLE) AS suggestion_confidence
            FROM ranked WHERE rn = 1
        """,
        "license_stats": """
            -- branch-wise expected (class, spdx) per synthesized header:
            -- 0 SPDX MIT → permissive/MIT; 1 Apache text → permissive/NULL;
            -- 2 GPL text → copyleft/NULL; 3 SPDX GPL → copyleft/GPL-3.0-only;
            -- 4 all-rights-reserved → restricted/NULL; 5 MIT+GPL text →
            -- copyleft/NULL (precedence); 6 marker beyond the 2 KiB scan
            -- prefix → none/NULL; 7 plain prose → none/NULL
            WITH m AS (
              SELECT CASE c_custkey % 8
                       WHEN 0 THEN 'permissive' WHEN 1 THEN 'permissive'
                       WHEN 2 THEN 'copyleft'   WHEN 3 THEN 'copyleft'
                       WHEN 4 THEN 'restricted' WHEN 5 THEN 'copyleft'
                       ELSE 'none' END AS license_class,
                     CASE c_custkey % 8
                       WHEN 0 THEN 'MIT' WHEN 3 THEN 'GPL-3.0-only'
                       ELSE NULL END AS spdx_id
              FROM customer
            )
            SELECT license_class, spdx_id, count(*) AS n_files
            FROM m GROUP BY 1, 2
        """,
        "comment_stats": """
            WITH d AS (
              SELECT CASE c_custkey % 4
                       WHEN 0 THEN '# header' || chr(10) || 'x = 1  # tail' || chr(10) || c_name
                       WHEN 1 THEN '/* block' || chr(10) || 'multi */' || chr(10) || 'int x; // line' || chr(10) || c_name
                       WHEN 2 THEN 'var y = 1 // only' || chr(10) || c_name
                       ELSE 'plain text // kept' || chr(10) || c_name END AS content,
                     CASE c_custkey % 4
                       WHEN 0 THEN 'python' WHEN 1 THEN 'c'
                       WHEN 2 THEN 'javascript' ELSE 'markdown' END AS lang
              FROM customer
            ), s AS (
              SELECT lang, content,
                     CASE lang
                       WHEN 'python' THEN regexp_replace(content, '#[^\\n]*', '', 'g')
                       WHEN 'c' THEN regexp_replace(regexp_replace(content,
                              '/\\*[\\s\\S]*?\\*/', '', 'g'), '//[^\\n]*', '', 'g')
                       WHEN 'javascript' THEN regexp_replace(regexp_replace(content,
                              '/\\*[\\s\\S]*?\\*/', '', 'g'), '//[^\\n]*', '', 'g')
                       ELSE content END AS stripped
              FROM d
            )
            SELECT lang,
                   CAST(round(avg(CASE WHEN len(content) > 0
                        THEN (len(content) - len(stripped)) * 1.0 / len(content)
                        ELSE 0 END), 4) AS DOUBLE) AS avg_comment_ratio,
                   count(*) AS n_files
            FROM s GROUP BY lang
        """,
        "import_stats": _IMPORT_STATS_SQL,
        "pipeline_corpus_gate": _PIPELINE_CORPUS_GATE_SQL,
        "keyword_langid": _KEYWORD_LANGID_SQL,
        "deterministic_sample": """
            SELECT doc_id,
                   round(CAST(('0x' || substr(md5(coalesce('v:' || doc_id::VARCHAR, 'n')), 1, 8)) AS UBIGINT)
                         / 4294967296.0, 6) AS frac
            FROM documents
            WHERE CAST(('0x' || substr(md5(coalesce('v:' || doc_id::VARCHAR, 'n')), 1, 8)) AS UBIGINT)
                  / 4294967296.0 < 0.25
        """,
        "dsir_weights": f"""
            -- DSIR (Xie et al. 2023) unigram+bigram log-likelihood-ratio
            -- weights, target = English docs; replayed over gram TEXT
            -- (Spark keys on 64-bit kernel gram hashes — identical counts
            -- barring ~2^-64 collisions). Formula order mirrors
            -- operators/selection.py exactly; round(4) both sides.
            WITH toks AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
            g AS (
              SELECT doc_id, lang,
                     list_concat(
                       tk,
                       list_transform(
                         generate_series(1, greatest(len(tk) - 1, 0)),
                         i -> array_to_string(list_slice(tk, i, i + 1), ' '))
                     ) AS grams
              FROM toks
            ),
            e AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g),
            raw AS (SELECT gram, count(*) AS cr FROM e GROUP BY gram),
            tgt AS (SELECT gram, count(*) AS ct FROM e WHERE lang = 'en'
                    GROUP BY gram),
            vocab AS (
              SELECT coalesce(r.gram, t.gram) AS gram,
                     coalesce(r.cr, 0) AS cr, coalesce(t.ct, 0) AS ct
              FROM raw r FULL JOIN tgt t ON r.gram = t.gram
            ),
            tot AS (SELECT count(*) AS v, sum(cr) AS tr, sum(ct) AS tt
                    FROM vocab),
            lr AS (
              SELECT gram,
                     (ln(ct + 1.0) - ln(tt + 1.0 * v))
                     - (ln(cr + 1.0) - ln(tr + 1.0 * v)) AS lr
              FROM vocab, tot
            ),
            pd AS (
              SELECT e.doc_id, count(*) AS n_grams, sum(lr.lr) AS w
              FROM e JOIN lr USING (gram) GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(round(coalesce(pd.w, 0.0), 4) AS DOUBLE)
                     AS dsir_logweight
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        "mixture_sample": """
            -- per-source counts -> capped rates -> md5-fraction membership;
            -- weights src0: 3, src1: 1, src2: 1 over total 40, wsum 5.0
            WITH cnt AS (SELECT source, count(*) AS n FROM documents
                         GROUP BY source),
            r AS (
              SELECT source,
                     least(1.0,
                           CASE source WHEN 'src0' THEN 3.0
                                       WHEN 'src1' THEN 1.0
                                       WHEN 'src2' THEN 1.0
                                       ELSE 0.0 END
                           / 5.0 * 40.0 / n) AS rate
              FROM cnt
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN r USING (source)
            WHERE CAST(('0x' || substr(md5('v:' || d.doc_id::VARCHAR), 1, 8))
                       AS UBIGINT) / 4294967296.0 < r.rate
        """,
        "weighted_sample": """
            -- Efraimidis-Spirakis top-k with the md5-fraction RNG:
            -- score = frac^(1/n_chars), k largest, doc_id tie-break
            WITH s AS (
              SELECT doc_id, source,
                     pow(CAST(('0x' || substr(md5('v:' || doc_id::VARCHAR), 1, 8))
                              AS UBIGINT) / 4294967296.0,
                         1.0 / n_chars) AS sample_score
              FROM documents
              WHERE n_chars > 0
            )
            SELECT doc_id, source, round(sample_score, 6) AS sample_score
            FROM s
            ORDER BY sample_score DESC, doc_id
            LIMIT 25
        """,
        "dsir_select": f"""
            -- full DSIR recipe: UNROUNDED weights chain (same CTEs as
            -- dsir_weights), temperature 2.0, E-S log-space score
            -- ln(u)*e^(-w/T) with the md5-fraction u, top-30 by score
            -- (doc_id tie-break). round(4) on outputs only.
            WITH toks AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
            g AS (
              SELECT doc_id, lang,
                     list_concat(
                       tk,
                       list_transform(
                         generate_series(1, greatest(len(tk) - 1, 0)),
                         i -> array_to_string(list_slice(tk, i, i + 1), ' '))
                     ) AS grams
              FROM toks
            ),
            e AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g),
            raw AS (SELECT gram, count(*) AS cr FROM e GROUP BY gram),
            tgt AS (SELECT gram, count(*) AS ct FROM e WHERE lang = 'en'
                    GROUP BY gram),
            vocab AS (
              SELECT coalesce(r.gram, t.gram) AS gram,
                     coalesce(r.cr, 0) AS cr, coalesce(t.ct, 0) AS ct
              FROM raw r FULL JOIN tgt t ON r.gram = t.gram
            ),
            tot AS (SELECT count(*) AS v, sum(cr) AS tr, sum(ct) AS tt
                    FROM vocab),
            lr AS (
              SELECT gram,
                     (ln(ct + 1.0) - ln(tt + 1.0 * v))
                     - (ln(cr + 1.0) - ln(tr + 1.0 * v)) AS lr
              FROM vocab, tot
            ),
            pd AS (
              SELECT e.doc_id, sum(lr.lr) AS w
              FROM e JOIN lr USING (gram) GROUP BY e.doc_id
            ),
            sel AS (
              SELECT d.doc_id, coalesce(pd.w, 0.0) AS w
              FROM documents d LEFT JOIN pd USING (doc_id)
            ),
            s AS (
              SELECT doc_id, w,
                     ln(CAST(('0x' || substr(md5('v:' || doc_id::VARCHAR), 1, 8))
                             AS UBIGINT) / 4294967296.0)
                     * exp(-(w / 2.0)) AS score
              FROM sel
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(round(score, 4) AS DOUBLE) AS sample_score,
                   CAST(round(w, 4) AS DOUBLE) AS dsir_logweight
            FROM s
            ORDER BY score DESC, doc_id
            LIMIT 30
        """,
        "quality_buckets": """
            -- CCNet bucket replay: per-source quantile_cont thresholds at
            -- the binary cuts (bit-exact interpolation vs Spark percentile),
            -- when-chain label, (source, bucket) rollup
            WITH th AS (
              SELECT source,
                     quantile_cont(n_chars, 0.25) AS t0,
                     quantile_cont(n_chars, 0.75) AS t1
              FROM documents GROUP BY source
            ),
            lab AS (
              SELECT d.source, d.n_chars,
                     CASE WHEN d.n_chars <= th.t0 THEN 'head'
                          WHEN d.n_chars <= th.t1 THEN 'middle'
                          ELSE 'tail' END AS quality_bucket
              FROM documents d JOIN th USING (source)
            )
            SELECT source, quality_bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(n_chars) AS BIGINT) AS min_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_chars
            FROM lab GROUP BY source, quality_bucket
        """,
        "corpus_select_pack": """
            -- replays the WHOLE corpus_select_pack composition: gate ->
            -- exact-dedup winner (group by raw text == digest partition) ->
            -- capped per-source token-budget rates -> md5-fraction
            -- membership -> exclusive cumsum in (frac, id) order -> shard
            -- assignment. All bigint outputs — exact value-hash match.
            WITH g AS (
              SELECT doc_id, text, source, n_chars FROM documents
              WHERE n_chars BETWEEN 100 AND 400
            ),
            win AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY text),
            s AS (SELECT g.* FROM g JOIN win USING (doc_id)),
            cnt AS (SELECT source, sum(n_chars) AS n FROM s GROUP BY source),
            r AS (
              SELECT source,
                     least(1.0,
                           CASE source WHEN 'src0' THEN 3.0
                                       WHEN 'src1' THEN 1.0
                                       WHEN 'src2' THEN 1.0
                                       ELSE 0.0 END
                           / 5.0 * 15000.0 / n) AS rate
              FROM cnt
            ),
            sel AS (
              SELECT s.doc_id, s.source, s.n_chars,
                     CAST(('0x' || substr(md5('v:' || s.doc_id::VARCHAR), 1, 8))
                          AS UBIGINT) / 4294967296.0 AS frac
              FROM s JOIN r USING (source)
              WHERE CAST(('0x' || substr(md5('v:' || s.doc_id::VARCHAR), 1, 8))
                         AS UBIGINT) / 4294967296.0 < r.rate
            ),
            o AS (
              SELECT doc_id, source,
                     coalesce(sum(greatest(coalesce(n_chars, 0), 0)) OVER (
                       ORDER BY frac, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS tok_start
              FROM sel
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                   CAST(tok_start AS BIGINT) AS tok_start,
                   CAST(tok_start // 4096 AS BIGINT) AS shard_id,
                   CAST(tok_start % 4096 AS BIGINT) AS shard_off
            FROM o
        """,
        "shard_pack": """
            -- the distributed two-level prefix sum vs the sequential
            -- definition: concat in (md5-fraction, doc_id) order, exclusive
            -- cumsum, shard = tok_start // 65536. All bigint — exact match.
            WITH t AS (
              SELECT doc_id, greatest(coalesce(n_chars, 0), 0) AS tok,
                     CAST(('0x' || substr(md5('v:' || doc_id::VARCHAR), 1, 8))
                          AS UBIGINT) / 4294967296.0 AS frac
              FROM documents
            ), o AS (
              SELECT doc_id, tok,
                     coalesce(sum(tok) OVER (
                       ORDER BY frac, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS tok_start
              FROM t
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(tok_start AS BIGINT) AS tok_start,
                   CAST(tok_start // 65536 AS BIGINT) AS shard_id,
                   CAST(tok_start % 65536 AS BIGINT) AS shard_off
            FROM o
        """,
        "sequence_pack": """
            -- GPT-style packing cut points replayed with generate_series
            -- over the same global cumsum; one row per (doc, sequence)
            -- segment. All bigint — exact match.
            WITH t AS (
              SELECT doc_id, greatest(coalesce(n_chars, 0), 0) AS tok,
                     CAST(('0x' || substr(md5('v:' || doc_id::VARCHAR), 1, 8))
                          AS UBIGINT) / 4294967296.0 AS frac
              FROM documents
            ), o AS (
              SELECT doc_id, tok,
                     coalesce(sum(tok) OVER (
                       ORDER BY frac, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS tok_start
              FROM t
            ), seg AS (
              SELECT doc_id, tok, tok_start,
                     unnest(generate_series(
                       CAST(tok_start // 2048 AS BIGINT),
                       CAST((tok_start + tok - 1) // 2048 AS BIGINT)))
                     AS seq_id
              FROM o WHERE tok > 0
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(seq_id AS BIGINT) AS seq_id,
                   CAST(greatest(tok_start, seq_id * 2048) - seq_id * 2048
                        AS BIGINT) AS seq_off,
                   CAST(greatest(tok_start, seq_id * 2048) - tok_start
                        AS BIGINT) AS doc_off,
                   CAST(least(tok_start + tok, (seq_id + 1) * 2048)
                        - greatest(tok_start, seq_id * 2048)
                        AS BIGINT) AS seg_len
            FROM seg
        """,
        "dataset_splits": """
            WITH f AS (
              SELECT CAST(('0x' || substr(md5(coalesce('v:' || doc_id::VARCHAR, 'n')), 1, 8)) AS UBIGINT)
                     / 4294967296.0 AS frac
              FROM documents
            )
            SELECT CASE WHEN frac < 0.8 THEN 'train'
                        WHEN frac < 0.9 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS cnt
            FROM f GROUP BY 1
        """,
        "calibration_metrics": """
            WITH labeled AS (
              SELECT least(l_discount * 10, 0.999) AS conf,
                     CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS label
              FROM lineitem
            ), pb AS (
              SELECT least(floor(conf * 10), 9) AS bin, count(*) AS n,
                     avg(conf) AS ac, avg(label) AS al
              FROM labeled GROUP BY 1
            ), tot AS (
              SELECT sum(n) AS total,
                     sum(n * (ac - al) * (ac - al)) AS rel,
                     sum(al * n) AS labn
              FROM pb
            ), sc AS (
              SELECT avg((conf - label) * (conf - label)) AS brier,
                     avg(-(label * ln(greatest(least(conf, 1 - 1e-15), 1e-15))
                           + (1 - label) * ln(1 - greatest(least(conf, 1 - 1e-15), 1e-15)))) AS log_loss,
                     count(*) AS n_samples
              FROM labeled
            )
            SELECT CAST(round(sc.brier, 6) AS DOUBLE) AS brier,
                   CAST(round(sc.log_loss, 6) AS DOUBLE) AS log_loss,
                   CAST(round(tot.rel / tot.total, 6) AS DOUBLE) AS reliability,
                   CAST(round((SELECT sum(n * (al - tot.labn / tot.total) * (al - tot.labn / tot.total)) FROM pb) / tot.total, 6) AS DOUBLE) AS sharpness,
                   CAST(sc.n_samples AS BIGINT) AS n_samples
            FROM sc, tot
        """,
        "string_length_stats": """
            SELECT count(*) AS row_count,
                   CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
                   count(DISTINCT c_name) AS distinct_count,
                   CAST(min(len(c_name)) AS BIGINT) AS min_length,
                   CAST(max(len(c_name)) AS BIGINT) AS max_length,
                   CAST(round(avg(len(c_name)), 4) AS DOUBLE) AS avg_length
            FROM customer
        """,
        "lsh_topk": _LSH_TOPK_SQL,
        "ivf_assign": """
            -- label-centroid codebook replay: round-6 per-dim averages,
            -- argmax over dot/|c| (equal ordering to the engine's normalized
            -- f64 matmul), ties to the lowest label (np.argmax first-max)
            WITH x AS (
              SELECT label, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings
            ), c AS (
              SELECT label, i, round(avg(embedding[i]::DOUBLE), 6) AS v
              FROM x GROUP BY 1, 2
            ), cl AS (
              SELECT label, list(v ORDER BY i) AS cv FROM c GROUP BY label
            ), scored AS (
              SELECT e.vec_id, cl.label,
                     list_dot_product(e.embedding::DOUBLE[], cl.cv)
                       / sqrt(list_dot_product(cl.cv, cl.cv)) AS s
              FROM embeddings e CROSS JOIN cl
            ), r AS (
              SELECT vec_id, label,
                     row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, label ASC) AS rn
              FROM scored
            )
            SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS cell
            FROM r WHERE rn = 1
        """,
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                         (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cosine
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                         sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.8
        """,
        "ngram_jaccard": f"""
            WITH {_NGRAM_PAIRS_CTE}
            SELECT id_a, id_b, round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
            FROM inter WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.2
        """,
        "winnow_pairs": """
            -- replays operators/fingerprint.py value-for-value: poly hash
            -- base 257 mod 2^31-1 over CODE POINTS (unicode(substr) ==
            -- utf-32 kernel codes), window-16 min with rightmost tie-break
            -- via one BIGINT key (min over h*2^31 + (2^31-1-i) sorts
            -- (h asc, i desc)), short docs = one truncated window (the
            -- frame clips at the partition end; only i=1 kept), DISTINCT
            -- selected hashes, pairs sharing >= 2, containment overlap.
            WITH pos AS (
              SELECT doc_id, text, len(text) - 20 + 1 AS n
              FROM documents WHERE len(text) >= 20
            ),
            g AS (
              SELECT doc_id, i, n,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(generate_series(0, 19),
                      j -> CAST(unicode(substr(text, i + j, 1)) AS BIGINT))),
                  (a, b) -> (a * 257 + b) % 2147483647) AS h
              FROM pos, unnest(generate_series(1, n)) AS t(i)
            ),
            enc AS (
              SELECT doc_id, i, n,
                     h * 2147483648 + (2147483647 - i) AS key
              FROM g
            ),
            selw AS (
              SELECT doc_id, i, n,
                     min(key) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mkey
              FROM enc
            ),
            fp AS (
              SELECT DISTINCT doc_id, CAST(mkey // 2147483648 AS BIGINT) AS h
              FROM selw WHERE i <= greatest(n - 16 + 1, 1)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
            dfreq AS (SELECT h, count(*) AS fp_df FROM fp GROUP BY h),
            kept AS (
              SELECT f.doc_id, f.h FROM fp f JOIN dfreq USING (h)
              WHERE fp_df <= 1000
            ),
            shared AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_shared
              FROM kept x JOIN kept y USING (h) WHERE x.doc_id < y.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   CAST(n_shared AS BIGINT) AS n_shared,
                   CAST(round(n_shared * 1.0 / least(sa.n_fp, sb.n_fp), 4) AS DOUBLE) AS overlap
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
        """,
        "dedup_clusters": f"""
            -- transitive closure over the SAME pair CTE ngram_jaccard uses:
            -- component = min id reachable through the pair graph (the
            -- engine's hash-min fixpoint computes exactly this)
            WITH RECURSIVE {_NGRAM_PAIRS_CTE},
            p AS (
              SELECT id_a, id_b FROM inter
              WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.2
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p
            ),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT CAST(src AS BIGINT) AS doc_id,
                   CAST(least(src, min(dst)) AS BIGINT) AS component
            FROM reach GROUP BY src
        """,
        "encoding_stats": _encoding_stats_sql(),
        "script_stats": _script_stats_sql(),
        "gopher_quality": r"""
            -- Gopher quality rules; mirrors functions/webquality.py
            -- gopher_quality_stats EXACTLY: same synthesized content, same
            -- normalization order as repetition_stats, counts via
            -- regexp_extract_all against explicit \n-delimited sources (no
            -- multiline anchors — Java (?m) also honors bare \r), keep flag
            -- compared on the ROUNDED fractions.
            WITH base AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 5 = 0 THEN '- alpha beta' || chr(10) ||
                  '- gamma delta' || chr(10) || '* epsilon zeta' || chr(10)
                  ELSE '' END)
                || regexp_replace(text, '(([^ ]+ ){6})', '\1' || chr(10), 'g')
                || (CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
                  'to be continued ...' || chr(10) ||
                  'and the story goes on ...' ELSE '' END)
                || (CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
                  '## section #tag #note' ELSE '' END) AS content
              FROM documents
            ),
            feats AS (
              SELECT doc_id, content,
                     regexp_replace(regexp_replace(regexp_replace(content,
                       '[ \t\r\f]*\n[ \t\r\f]*', chr(10), 'g'),
                       '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g'),
                       '^\n+|\n+$', '', 'g') AS norm,
                     regexp_replace(content,
                       '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g') AS stripped,
                     regexp_replace(lower(content),
                       '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g') AS stripped_lc
              FROM base
            ),
            arr AS (
              SELECT doc_id, content, norm,
                CASE WHEN length(stripped) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(stripped, '[ \t\r\f\n]+') END AS words,
                CASE WHEN length(stripped_lc) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(stripped_lc, '[ \t\r\f\n]+') END AS words_lc,
                CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(norm, '\n+') END AS ls
              FROM feats
            ),
            m AS (
              SELECT doc_id, len(words) AS nw, len(ls) AS nl,
                -- exact integer HALF-UP ((num*2e4+den)//(2*den)) on every
                -- ratio: Spark round() is HALF_UP on the double's shortest
                -- repr, DuckDB round() acts on the binary double — integer
                -- arithmetic reproduces Spark exactly on .00005 boundaries
                -- (the numerators here are all integers; the '...' delta is
                -- always divisible by 3)
                CASE WHEN len(words) > 0 THEN
                  ((length(array_to_string(words, '')) * 20000 + len(words))
                   // (2 * len(words))) / 10000.0
                  ELSE 0.0 END AS mwl,
                CASE WHEN len(words) > 0 THEN
                  (((length(content) - length(replace(content, '#', ''))
                     + (length(content) - length(replace(content, '...', ''))) // 3
                     + length(content) - length(replace(content, '…', '')))
                    * 20000 + len(words)) // (2 * len(words))) / 10000.0
                  ELSE 0.0 END AS swr,
                CASE WHEN len(ls) > 0 THEN
                  ((len(regexp_extract_all(chr(10) || norm, '\n[-*•‣▪]'))
                    * 20000 + len(ls)) // (2 * len(ls))) / 10000.0
                  ELSE 0.0 END AS blf,
                CASE WHEN len(ls) > 0 THEN
                  ((len(regexp_extract_all(norm || chr(10), '(\.\.\.|…)\n'))
                    * 20000 + len(ls)) // (2 * len(ls))) / 10000.0
                  ELSE 0.0 END AS elf,
                CASE WHEN len(words) > 0 THEN
                  ((len(regexp_extract_all(' ' || content,
                     '[ \t\r\f\n][^ \t\r\f\n]*[A-Za-z]'))
                    * 20000 + len(words)) // (2 * len(words))) / 10000.0
                  ELSE 0.0 END AS awf,
                (list_contains(words_lc, 'the')::INT + list_contains(words_lc, 'be')::INT
                 + list_contains(words_lc, 'to')::INT + list_contains(words_lc, 'of')::INT
                 + list_contains(words_lc, 'and')::INT + list_contains(words_lc, 'that')::INT
                 + list_contains(words_lc, 'have')::INT + list_contains(words_lc, 'with')::INT
                ) AS hits
              FROM arr
            )
            SELECT doc_id,
              CAST(nw AS BIGINT) AS n_words,
              CAST(nl AS BIGINT) AS n_lines,
              mwl::DOUBLE AS mean_word_len,
              swr::DOUBLE AS symbol_word_ratio,
              blf::DOUBLE AS bullet_line_frac,
              elf::DOUBLE AS ellipsis_line_frac,
              awf::DOUBLE AS alpha_word_frac,
              CAST(hits AS BIGINT) AS n_stop_hits,
              (nw >= 50 AND nw <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
               AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8
               AND hits >= 2) AS gopher_keep
            FROM m
        """,
        "c4_clean": r"""
            -- C4 cleaning; mirrors functions/webquality.py c4_clean EXACTLY:
            -- same synthesized content, line keep = terminal punct + >=5
            -- words + no drop phrase, page keep = >=3 sentences in the
            -- CLEANED text and no lorem/brace in the ORIGINAL.
            WITH base AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 4 = 0 THEN 'tiny line.' || chr(10) ELSE '' END)
                || (CASE WHEN doc_id % 6 = 0 THEN
                  'Please review our privacy policy and cookie settings now.'
                  || chr(10) ELSE '' END)
                || regexp_replace(text, '(([^ ]+ ){6})', '\1.' || chr(10), 'g')
                || ' the end of it all.'
                || (CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                  'Lorem Ipsum dolor sit amet.' ELSE '' END)
                || (CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                  'function f() { return 1; }' ELSE '' END) AS content
              FROM documents
            ),
            feats AS (
              SELECT doc_id, content,
                     regexp_replace(regexp_replace(regexp_replace(content,
                       '[ \t\r\f]*\n[ \t\r\f]*', chr(10), 'g'),
                       '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g'),
                       '^\n+|\n+$', '', 'g') AS norm
              FROM base
            ),
            arr AS (
              SELECT doc_id, content,
                CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(norm, '\n+') END AS ls
              FROM feats
            ),
            k AS (
              SELECT doc_id, content, ls,
                list_filter(ls, x -> regexp_matches(x, '[.!?"”]$')
                  AND len(string_split_regex(x, '[ \t\r\f]+')) >= 5
                  AND NOT contains(lower(x), 'javascript')
                  AND NOT contains(lower(x), 'cookie policy')
                  AND NOT contains(lower(x), 'privacy policy')
                  AND NOT contains(lower(x), 'terms of use')
                  AND NOT contains(lower(x), 'uses cookies')) AS kept
              FROM arr
            ),
            c AS (
              SELECT doc_id, content, ls, kept,
                     array_to_string(kept, chr(10)) AS clean
              FROM k
            )
            SELECT doc_id,
              md5(clean) AS clean_md5,
              CAST(length(clean) AS BIGINT) AS clean_len,
              CAST(len(ls) AS BIGINT) AS n_lines,
              CAST(len(kept) AS BIGINT) AS n_lines_kept,
              CAST(len(regexp_extract_all(clean || chr(10),
                '[.!?]["”]?[ \t\r\f\n]')) AS BIGINT) AS n_sentences,
              contains(lower(content), 'lorem ipsum') AS has_lorem,
              contains(content, '{') AS has_brace,
              (len(regexp_extract_all(clean || chr(10),
                 '[.!?]["”]?[ \t\r\f\n]')) >= 3
               AND NOT contains(lower(content), 'lorem ipsum')
               AND NOT contains(content, '{')) AS c4_keep
            FROM c
        """,
        "stack_stats": r"""
            -- The Stack code-quality filters; mirrors functions/webquality.py
            -- code_quality_stats EXACTLY (raw \n-split lines incl. blanks,
            -- translate-equivalent ASCII alnum/ws classes, base64 runs
            -- removed before hex runs, the contains()-chain autogen
            -- markers with the \* entry unescaped).
            WITH base AS (
              SELECT doc_id,
                regexp_replace(text, '(([^ ]+ ){8})', '\1' || chr(10), 'g')
                || (CASE WHEN doc_id % 9 = 0 THEN chr(10) ||
                  repeat('ABCDEF0123456789', 8) ELSE '' END)
                || (CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                  '# Code generated by protoc. DO NOT EDIT.' ELSE '' END)
                || (CASE WHEN doc_id % 8 = 0 THEN chr(10) ||
                  repeat('x', 1200) ELSE '' END) AS content
              FROM documents
            ),
            m AS (
              SELECT doc_id, content,
                     string_split(content, chr(10)) AS ls,
                     length(content) AS total
              FROM base
            ),
            s AS (
              SELECT doc_id, total, len(ls) AS nl,
                list_max(list_transform(ls, x -> length(x))) AS mll,
                (total - (len(ls) - 1)) AS line_chars,
                length(regexp_replace(content, '[^a-zA-Z0-9]', '', 'g')) AS alnum,
                length(regexp_replace(content,
                  '[ \t\n\x0B\x0C\r]', '', 'g')) AS nonspace,
                (total - length(regexp_replace(regexp_replace(content,
                  '[A-Za-z0-9+/=]{64,}', '', 'g'),
                  '[0-9a-fA-F]{16,}', '', 'g'))) AS enc,
                (contains(content, 'DO NOT EDIT')
                 OR contains(content, 'Code generated by')
                 OR contains(content, '@generated')
                 OR contains(content, 'Autogenerated by')
                 OR contains(content, 'generated by protoc')
                 OR contains(content, 'swagger-codegen')
                 OR contains(content, 'This file was automatically generated')
                 OR contains(content, '# -*- DO NOT MODIFY -*-')
                 OR contains(content, '"lockfileVersion"')
                 OR contains(content, '# This file is auto-generated')) AS autogen
              FROM m
            ),
            f AS (
              SELECT doc_id, nl, mll, autogen,
                -- integer HALF-UP, same rationale as gopher_quality
                CASE WHEN nl > 0 THEN
                  ((line_chars * 20000 + nl) // (2 * nl)) / 10000.0
                  ELSE 0.0 END AS mean_ll,
                CASE WHEN nonspace > 0 THEN
                  ((alnum * 20000 + nonspace) // (2 * nonspace)) / 10000.0
                  ELSE 1.0 END AS af,
                CASE WHEN total > 0 THEN
                  ((enc * 20000 + total) // (2 * total)) / 10000.0
                  ELSE 0.0 END AS ef
              FROM s
            )
            SELECT doc_id,
              CAST(nl AS BIGINT) AS n_lines,
              CAST(mll AS BIGINT) AS max_line_len,
              mean_ll::DOUBLE AS mean_line_len,
              af::DOUBLE AS alnum_frac,
              ef::DOUBLE AS encoded_data_frac,
              autogen AS is_autogen,
              (mean_ll <= 100.0 AND mll <= 1000 AND af >= 0.25
               AND ef <= 0.5 AND NOT autogen) AS stack_keep
            FROM f
        """,
        "url_domains": f"""
            -- URL parsing family; mirrors functions/urls.py exactly (see
            -- _URL_CTE): host = authority minus userinfo/port, lowered,
            -- trailing dots stripped; naive registrable domain with the
            -- TWO_LEVEL_TLDS subset; normalized URL with default ports
            -- dropped and empty path -> /.
            WITH {_URL_CTE}
            SELECT doc_id, url, host, domain, url_norm FROM norm
        """,
        "domain_mix": f"""
            -- corpus domain mix over the same synthesized URLs
            WITH {_URL_CTE}
            SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
                   (((count(*) * 20000 + (SELECT count(*) FROM u))
                     // (2 * (SELECT count(*) FROM u))) / 10000.0)::DOUBLE
                     AS frac
            FROM norm GROUP BY domain
        """,
        "domain_cap_docs": f"""
            -- per-domain cap over the shared URL CTE: <= 3 winners per
            -- registrable domain by (md5(url), url, doc_id)
            WITH {_URL_CTE},
            ranked AS (
              SELECT doc_id, row_number() OVER (
                PARTITION BY domain ORDER BY md5(url), url, doc_id) AS rn
              FROM norm
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id FROM ranked WHERE rn <= 3
        """,
        "near_dup_keep": """
            -- survivor set of winner-per-cluster near-dup dedup: same pair
            -- CTE as ngram_jaccard/dedup_clusters, transitive closure,
            -- losers = nodes whose min reachable id is smaller than self,
            -- survivors = everything else
            WITH RECURSIVE {_NGRAM_PAIRS_CTE},
            p AS (
              SELECT id_a, id_b FROM inter
              WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.2
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p
            ),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            losers AS (
              SELECT src AS doc_id FROM reach
              GROUP BY src HAVING least(src, min(dst)) <> src
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """.replace("{_NGRAM_PAIRS_CTE}", _NGRAM_PAIRS_CTE),
        "skew_report": r"""
            -- shuffle-key skew diagnostics over orders.o_custkey
            WITH per_key AS (
              SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
            )
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(max(cnt) AS BIGINT) AS max_per_key,
                   round(avg(cnt), 4)::DOUBLE AS mean_per_key,
                   round(max(cnt) / avg(cnt), 4)::DOUBLE AS skew_ratio,
                   round(max(cnt)::DOUBLE / sum(cnt), 4)::DOUBLE AS top1_share
            FROM per_key
        """,
        "unigram_entropy": r"""
            -- H = ln(N) - sum(c ln c)/N per doc over whitespace tokens
            WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(regexp_replace(text,
                  '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g'),
                  '[ \t\r\f\n]+')) AS w
              FROM documents
              WHERE length(regexp_replace(text,
                '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g')) > 0
            ),
            counts AS (
              SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w
            ),
            per AS (
              SELECT doc_id, sum(c) AS n,
                     sum(c::DOUBLE * ln(c::DOUBLE)) AS clc
              FROM counts GROUP BY doc_id
            )
            SELECT d.doc_id,
              CAST(coalesce(per.n, 0) AS BIGINT) AS n_tokens,
              coalesce(round(ln(per.n::DOUBLE) - per.clc / per.n, 4),
                       0.0)::DOUBLE AS unigram_entropy
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "oov_rate": r"""
            -- tokenizer coverage; mirrors operators/text_analysis.py
            -- build_vocab + oov_stats: vocab = top-50 lowercased tokens of
            -- even docs (count desc, token asc — deterministic boundary),
            -- per-doc OOV over all docs
            WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(regexp_replace(lower(text),
                  '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g'),
                  '[ \t\r\f\n]+')) AS token
              FROM documents
              WHERE length(regexp_replace(lower(text),
                '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g')) > 0
            ),
            vocab AS (
              SELECT token FROM toks WHERE doc_id % 2 = 0
              GROUP BY token ORDER BY count(*) DESC, token ASC LIMIT 50
            ),
            per AS (
              SELECT t.doc_id, count(*) AS n_tokens,
                     sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
              FROM toks t LEFT JOIN vocab v USING (token)
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
              CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
              CAST(coalesce(per.n_oov, 0) AS BIGINT) AS n_oov,
              (CASE WHEN coalesce(per.n_tokens, 0) > 0
                THEN ((coalesce(per.n_oov, 0) * 20000 + per.n_tokens)
                      // (2 * per.n_tokens)) / 10000.0
                ELSE 0.0 END)::DOUBLE AS oov_rate
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "repetition_stats": r"""
            -- Gopher repetition features; mirrors functions/repetition.py
            -- EXACTLY, incl. the normalization ORDER (ws-around-newline
            -- collapse FIRST — Java/Python '$' matches before a trailing
            -- newline, RE2's does not; after the collapse the edge-strip
            -- pattern can never see that divergence) and the top-gram
            -- tie-break (cnt, ln, gram) via lexicographic struct max.
            WITH base AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(text,
                       '[ \t\r\f]*\n[ \t\r\f]*', chr(10), 'g'),
                       '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g'),
                       '^\n+|\n+$', '', 'g') AS norm,
                     string_split_regex(regexp_replace(text,
                       '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g'),
                       '[ \t\r\f\n]+') AS words,
                     length(regexp_replace(text,
                       '^[ \t\r\f\n]+|[ \t\r\f\n]+$', '', 'g')) AS slen
              FROM documents
            ),
            lines AS (
              SELECT doc_id, u.line
              FROM base, unnest(string_split_regex(norm, '\n+')) AS u(line)
              WHERE length(norm) > 0
            ),
            lg AS (
              SELECT doc_id, line, count(*) AS cnt, length(line) AS ln
              FROM lines GROUP BY doc_id, line
            ),
            ls AS (
              SELECT doc_id, sum(cnt) AS n_lines,
                     round(1.0 - count(*)::DOUBLE / sum(cnt), 4) AS dup_line_frac,
                     -- integer HALF-UP (num*2e4+den)//(2*den): Spark round()
                     -- is HALF_UP on the double's shortest repr; DuckDB
                     -- round() acts on the binary double — they split on
                     -- exact .00005 boundaries (seen at sf0.1). Same fix on
                     -- the two gram fractions below.
                     ((coalesce(sum(CASE WHEN cnt > 1 THEN cnt*ln END), 0)
                       * 20000 + sum(cnt*ln)) // (2 * sum(cnt*ln)))
                       / 10000.0 AS dup_line_char_frac
              FROM lg GROUP BY doc_id
            ),
            w AS (
              SELECT doc_id,
                     unnest(words[1:greatest(len(words)-1, 0)]) AS word,
                     unnest(words[2:]) AS nxt
              FROM base WHERE slen > 0 AND len(words) >= 2
            ),
            bg AS (
              SELECT doc_id, word || ' ' || nxt AS gram, count(*) AS cnt,
                     length(word || ' ' || nxt) AS ln
              FROM w GROUP BY doc_id, gram
            ),
            gs AS (
              SELECT doc_id, sum(cnt*ln) AS total,
                     max(struct_pack(cnt := cnt, ln := ln, gram := gram)) AS top,
                     coalesce(sum(CASE WHEN cnt > 1 THEN cnt*ln END), 0) AS dup_chars
              FROM bg GROUP BY doc_id
            )
            SELECT b.doc_id,
                   CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
                   coalesce(ls.dup_line_frac, 0.0)::DOUBLE AS dup_line_frac,
                   coalesce(ls.dup_line_char_frac, 0.0)::DOUBLE AS dup_line_char_frac,
                   coalesce(((gs.top.cnt * gs.top.ln * 20000 + gs.total)
                             // (2 * gs.total)) / 10000.0,
                            0.0)::DOUBLE AS top_ngram_char_frac,
                   coalesce(((gs.dup_chars * 20000 + gs.total)
                             // (2 * gs.total)) / 10000.0,
                            0.0)::DOUBLE AS dup_ngram_char_frac
            FROM base b LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)
        """,
        "paragraph_dedup": f"""
            -- Lee et al. 2021 paragraph dedup; mirrors
            -- operators/dedup.py:strip_duplicate_paragraphs exactly:
            -- first-occurrence winner = min (doc_id, pos) per distinct
            -- trimmed paragraph, reassembly joins survivors with a blank
            -- line in original position order.
            WITH base AS (
              SELECT doc_id,
                     '{_BOILER}' || chr(10) || chr(10) ||
                     regexp_replace(text, '(([^ ]+ ){{8}})',
                                    '\\1' || chr(10) || chr(10), 'g') AS content
              FROM documents
            ),
            pl AS (
              SELECT doc_id,
                     string_split_regex(content,
                       '\\n[ \\t\\r\\f\\n]*\\n') AS ps
              FROM base
            ),
            pe AS (
              SELECT doc_id,
                     unnest(range(1, len(ps)+1)) AS pos,
                     unnest(ps) AS raw
              FROM pl
            ),
            pt AS (
              SELECT doc_id, pos,
                     regexp_replace(raw,
                       '^[ \\t\\r\\f\\n]+|[ \\t\\r\\f\\n]+$', '', 'g') AS para
              FROM pe
              WHERE regexp_replace(raw,
                      '^[ \\t\\r\\f\\n]+|[ \\t\\r\\f\\n]+$', '', 'g') <> ''
            ),
            kept AS (
              SELECT doc_id, pos, para FROM (
                SELECT doc_id, pos, para,
                       row_number() OVER (PARTITION BY para
                                          ORDER BY doc_id, pos) AS rn
                FROM pt
              ) WHERE rn = 1
            ),
            totals AS (SELECT doc_id, count(*) AS n_paras FROM pt GROUP BY doc_id),
            rebuilt AS (
              SELECT doc_id, count(*) AS n_paras_kept,
                     string_agg(para, chr(10)||chr(10) ORDER BY pos) AS text_deduped
              FROM kept GROUP BY doc_id
            )
            SELECT b.doc_id,
                   md5(coalesce(r.text_deduped, '')) AS dedup_md5,
                   CAST(length(coalesce(r.text_deduped, '')) AS BIGINT) AS dedup_len,
                   CAST(coalesce(t.n_paras, 0) AS BIGINT) AS n_paras,
                   CAST(coalesce(r.n_paras_kept, 0) AS BIGINT) AS n_paras_kept
            FROM base b
            LEFT JOIN totals t USING (doc_id)
            LEFT JOIN rebuilt r USING (doc_id)
        """,
        "decontaminate": f"""
            -- GPT-3-style eval-overlap; grams mirror the token-5-gram
            -- construction of operators/dedup.py:token_ngram_hashes (the
            -- Spark side joins on 64-bit gram hashes, the oracle on gram
            -- text — identical counts barring 2^-64 collisions)
            WITH g AS (
              SELECT doc_id, list_distinct(list_transform(
                       generate_series(1, greatest(len({_TOKS}) - 4, 0)),
                       i -> array_to_string(list_slice({_TOKS}, i, i + 4), ' '))) AS grams
              FROM documents
            ),
            e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % 50 = 0),
            m AS (
              SELECT e.doc_id, count(*) AS n_matching
              FROM e JOIN bench USING (gram) GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(m.n_matching, 0) AS BIGINT) AS n_matching_grams,
                   coalesce(m.n_matching, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN m USING (doc_id)
        """,
        # minhash_pairs / simhash_pairs / quality_filter_docs: model/UDF-backed,
        # not SQL-expressible → driver rows-only check.
    }

"""The quality-filter pipeline: one linear DataFrame pass, zero per-row Python.

Spark-first re-expression of the reference's clean loop
(/root/reference/src/llm_tab_cleaner/core.py:360-392 per-column loop +
spark.py:296-337 per-value UDF): all heuristic rules are native Column
expressions combined with max-confidence-wins semantics
(cleaning_rule.py:148-175), the scorer (langid + perplexity + token
stats + null-ish check) is one Java UDF in the same codegen stage, so the
plan has no Python stage, and the confidence gate (core.py:374-377) becomes
``keep = drop_confidence < threshold``.

Plan shape (SURVEY.md §7):

    content_sha256 → [anti-join state] → [salted repartition] →
    native features (length, long line, autogen markers) →
    JVM scorer UDF over the full content (it scores the first
    TH.SCORE_PREFIX_CHARS characters and checks null-ish on all of it) →
    rule when-chains → keep/confidence →
    JVM scrub UDF (gated detection, attribution, replace chain) →
    clean_sha256 → result + audit
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.functions import thresholds as TH
from llm_tab_cleaner_spark.functions import text_features as TF
from llm_tab_cleaner_spark.functions.pii import scrub_kernel
from llm_tab_cleaner_spark.functions.scoring import ScoringModel, default_model, with_scores

KEY_COLS = ("repo", "path", "commit")


def drop_rule_confidences(model: ScoringModel) -> dict[str, Column]:
    """Each drop rule as (name → confidence Column, null when not fired).

    Mirrors the reference's rule registry create_default_rules
    (cleaning_rule.py:178-314): fixed per-rule confidences, combined later
    with max-confidence-wins.
    """
    content = F.col("content")
    c = {}
    c["nullish_empty"] = F.when(F.col("is_nullish"), F.lit(TH.CONF_NULLISH))
    c["minified_long_line"] = F.when(
        F.col("has_long_line"), F.lit(TH.CONF_MINIFIED)
    )
    c["low_alnum_ratio"] = F.when(
        (F.col("alnum_ratio") < TH.ALNUM_RATIO_MIN) & (F.col("n_chars") > 0),
        F.lit(TH.CONF_LOW_ALNUM),
    )
    c["autogen_boilerplate"] = F.when(F.col("is_autogen"), F.lit(TH.CONF_AUTOGEN))
    c["excessive_repetition"] = F.when(
        (F.col("unique_token_ratio") < TH.UNIQUE_TOKEN_RATIO_MIN)
        & (F.col("n_tokens") >= TH.REPETITION_MIN_TOKENS)
        # Heaps'-law guard: a low ratio with a REAL vocabulary is just a big
        # file; pathological repetition cycles a tiny token set
        & (F.col("n_distinct_tokens") < TH.REPETITION_MAX_DISTINCT),
        F.lit(TH.CONF_REPETITION),
    )
    # graded confidence: crosses the gate at exactly 10 tokens (borderline class)
    c["short_content"] = F.when(
        (F.col("n_tokens") > 0)
        & (F.col("n_tokens") < TH.SHORT_TOKENS_MAX)
        & ~F.col("is_nullish"),
        F.lit(TH.SHORT_BASE) - F.lit(TH.SHORT_SLOPE) * F.col("n_tokens"),
    )
    c["lang_mismatch"] = F.when(
        F.col("lang").isNotNull()
        & F.col("lang_pred").isNotNull()
        & (F.col("lang") != F.col("lang_pred"))
        & (F.col("lang_margin") > TH.LANGID_MIN_MARGIN),
        F.lit(TH.CONF_LANG_MISMATCH),
    )
    # only for content long enough that short_content doesn't own the call
    c["high_perplexity"] = F.when(
        (F.col("ppl_bits") > F.lit(model.ppl_drop_bits))
        & (F.col("n_tokens") >= TH.SHORT_TOKENS_MAX),
        F.lit(TH.CONF_HIGH_PPL),
    )
    return c


def salted_repartition(df: DataFrame, num_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Defeat giant-repo skew: partition on (repo, salt) where salt spreads a
    single repo over `salt_buckets` partitions (north_rule requirement).
    xxhash64(path) is deterministic — resume-safe."""
    salt = F.pmod(F.xxhash64(F.col("path")), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col("repo"), salt)


def apply_quality_filter(
    df: DataFrame,
    spark: SparkSession,
    model: ScoringModel | None = None,
    threshold: float = TH.CONF_THRESHOLD,
    num_partitions: int | None = None,
    salt_buckets: int = 16,
) -> tuple[DataFrame, ScoringModel]:
    """Score every file; returns a DataFrame with decision + audit columns.

    Output = input columns + content_sha256, lang_pred, lang_margin,
    ppl_bits, n_tokens/…features, rules_fired (array<struct<rule,confidence>>),
    drop_confidence, keep, confidence, content_clean, clean_sha256,
    scrub_rules (array<string>), partition_id.
    """
    model = model or default_model()
    out = df.withColumn("content_sha256", F.sha2(F.col("content"), 256))

    if num_partitions:
        out = salted_repartition(out, num_partitions, salt_buckets)

    # cheap native features (each a single scan; whole-stage codegen). The
    # heavy token/alnum stats come from the scorer UDF below: Catalyst's
    # predicate pushdown inlines a derived `keep` into filters and
    # re-evaluates every Column-expression feature 4-9× per row (round-2
    # plan audit), but a filter is never pushed through the scorer's
    # nondeterministic Project.
    # Columns that do not depend on each other are added in one withColumns
    # stage, so the analyzer runs once per stage rather than once per column;
    # the optimized plan is the same either way (CollapseProject).
    content = F.col("content")
    features = {
        "n_chars": TF.n_chars(content),
        "has_long_line": TF.has_long_line(content),
        "is_autogen": TF.is_autogen(content),
    }

    # the ONE scorer UDF (langid + perplexity + token/alnum stats + the
    # null-ish check), a Java UDF over the full content. It scores the first
    # TH.SCORE_PREFIX_CHARS characters, which caps scorer work per megabyte
    # file while rules/scrub/sha still see full content; the token/alnum
    # stats feeding excessive_repetition and low_alnum_ratio are therefore
    # prefix-scoped for larger files. is_nullish reads the whole file.
    out, model = with_scores(out.withColumns(features), "content", spark, model)

    # rule when-chains → fired array + max-confidence-wins drop confidence.
    # The array keeps null slots for unfired rules: CreateArray is codegen-
    # able, while filter()/array_compact() desugar to lambda HOFs which
    # de-codegen the ENTIRE collapsed Project (and its subexpression
    # elimination — measured ~2× on the pipeline). audit_trail drops the
    # nulls after its explode (a row-level filter); the report counts each
    # rule with array_contains, which skips them.
    rules = drop_rule_confidences(model)
    fired = F.array(
        *[
            F.when(
                conf.isNotNull(),
                F.struct(
                    F.lit(name).alias("rule"), conf.cast("double").alias("confidence")
                ),
            )
            for name, conf in rules.items()
        ]
    )
    out = out.withColumns({
        "rules_fired": fired,
        "drop_confidence": F.greatest(
            *[F.coalesce(conf.cast("double"), F.lit(0.0)) for conf in rules.values()]
        ),
    })
    out = out.withColumn("keep", F.col("drop_confidence") < F.lit(threshold))

    # decision confidence: drop → rule confidence; contested keep → 1 - drop
    # confidence; clean keep → perplexity-shaded score in [0.85, 0.99]
    clean_keep_conf = F.greatest(
        F.least(
            F.lit(TH.KEEP_CONF_CEIL)
            - 0.02 * F.greatest(F.col("ppl_bits") - F.lit(model.train_mean_bits), F.lit(0.0)),
            F.lit(TH.KEEP_CONF_CEIL),
        ),
        F.lit(TH.KEEP_CONF_FLOOR),
    )
    # scrub: one Java UDF detects, attributes and replaces (pii.scrub_kernel);
    # its content_clean is NULL on rows without PII, so coalesce keeps content
    out = out.withColumns({
        "confidence": F.when(~F.col("keep"), F.col("drop_confidence"))
        .when(F.col("drop_confidence") > 0, F.lit(1.0) - F.col("drop_confidence"))
        .otherwise(clean_keep_conf),
        "_scrub": scrub_kernel(content, spark),
    })
    clean = F.col("_scrub.content_clean")
    out = out.withColumns({
        "scrubbed": F.col("_scrub.scrubbed"),
        "content_clean": F.coalesce(clean, content),
        "scrub_rules": F.col("_scrub.scrub_rules"),
        # unscrubbed rows keep their bytes, so they reuse content_sha256
        # instead of paying a second full-content SHA-256 pass
        "clean_sha256": F.coalesce(F.sha2(clean, 256), F.col("content_sha256")),
        "partition_id": F.spark_partition_id(),
    })
    return out.drop("_scrub"), model


def audit_trail(result: DataFrame) -> DataFrame:
    """Long-format audit table (FIXTURES.md §F3): one row per micro-decision
    (rule fired or scrub family applied), mirroring the reference's Fix/audit
    entry (core.py:178-188, 469-481) with per-partition lineage.

    One pass: the drop-rule names and the scrub families are concatenated
    into one array and posexploded together. A position inside
    ``rules_fired`` is a drop rule (its confidence, keep/drop decision);
    a position past it is a scrub family (confidence 1.0, ``scrub``).
    Unfired rules and scrub families are null slots, filtered after the
    explode; unscrubbed rows carry an empty ``scrub_rules``. No lambda HOF.
    """
    keys = [F.col(k) for k in KEY_COLS]
    pos = F.col("pos")
    return (
        result.select(
            *keys,
            F.posexplode(F.concat(F.col("rules_fired.rule"), F.col("scrub_rules"))).alias(
                "pos", "rule_fired"
            ),
            F.col("rules_fired.confidence").alias("_rule_conf"),
            F.col("keep"),
            F.col("content_sha256").alias("before_sha256"),
            F.col("clean_sha256").alias("after_sha256"),
            F.col("partition_id"),
        )
        .filter(F.col("rule_fired").isNotNull())
        .select(
            *keys,
            "rule_fired",
            # get() is NULL past the end, where the scrub families start
            F.coalesce(F.get(F.col("_rule_conf"), pos), F.lit(1.0)).alias("confidence"),
            F.when(pos >= F.size("_rule_conf"), F.lit("scrub"))
            .when(F.col("keep"), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("decision"),
            "before_sha256",
            "after_sha256",
            "partition_id",
        )
    )

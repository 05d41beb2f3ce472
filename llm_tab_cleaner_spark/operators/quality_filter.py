"""The quality-filter pipeline: one linear DataFrame pass, zero per-row Python.

Spark-first re-expression of the reference's clean loop
(/root/reference/src/llm_tab_cleaner/core.py:360-392 per-column loop +
spark.py:296-337 per-value UDF): all heuristic rules are native Column
expressions combined with max-confidence-wins semantics
(cleaning_rule.py:148-175), the scorer (langid + perplexity + token
stats) is one Java UDF in the same codegen stage, so the plan has no Python
stage, and the confidence gate (core.py:374-377) becomes
``keep = drop_confidence < threshold``.

Plan shape (SURVEY.md §7):

    content_sha256 → [anti-join state] → [salted repartition] →
    native features → JVM scorer UDF → rule when-chains → keep/confidence →
    scrub (regexp_replace chain) → clean_sha256 → result + audit
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.functions import thresholds as TH
from llm_tab_cleaner_spark.functions import text_features as TF
from llm_tab_cleaner_spark.functions.pii import ALL_RULES as SCRUB_RULE_SPECS
from llm_tab_cleaner_spark.functions.pii import any_pii_detect_expr, scrub_expr
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
    score_prefix_chars: int = 65536,
) -> tuple[DataFrame, ScoringModel]:
    """Score every file; returns a DataFrame with decision + audit columns.

    Output = input columns + content_sha256, lang_pred, lang_margin,
    ppl_bits, n_tokens/…features, rules_fired (array<struct<rule,confidence>>),
    drop_confidence, keep, confidence, content_clean, clean_sha256,
    scrub_rules (array<string>), partition_id.
    """
    model = model or default_model()

    if 0 < score_prefix_chars < 1024:
        # statistical scores need a few hundred trigrams; a tiny prefix
        # silently changes keep/drop decisions (ROADMAP guard)
        import warnings

        warnings.warn(
            f"score_prefix_chars={score_prefix_chars} is below 1024; language/"
            "perplexity scores over so little text are unreliable — clamping",
            stacklevel=2,
        )
        score_prefix_chars = 1024

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

    # the ONE scorer UDF (langid + perplexity + token/alnum stats), a Java
    # UDF. Statistical scores stabilize within the first tens of KB, so
    # score a bounded prefix — at 100 TB this caps scorer work per megabyte
    # file while rules/scrub/sha still see full content. DOCUMENTED
    # SEMANTICS (PipelineConfig.score_prefix_chars, README): the token/alnum
    # stats feeding excessive_repetition and low_alnum_ratio are
    # prefix-scoped too for files larger than the prefix; 0 disables the cap
    # and scores full content.
    if score_prefix_chars:
        features["_score_text"] = F.substring(content, 1, score_prefix_chars)
        out, model = with_scores(out.withColumns(features), "_score_text", spark, model)
        out = out.drop("_score_text")
        # is_nullish rides the scorer (round-3 VERDICT #6: the native
        # lower/strip scan was inlined twice into every pushed-down keep
        # filter). The UDF saw only the prefix, which is exact whenever the
        # file fits in it; the rare larger file falls back to the native
        # expression — evaluated per-row only on that branch, so typical
        # rows never run the regex at all.
        out = out.withColumn(
            "is_nullish",
            F.when(
                F.col("n_chars") <= F.lit(score_prefix_chars), F.col("is_nullish")
            ).otherwise(TF.is_nullish(content)),
        )
    else:
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
    # scrub stage: ONE combined detection scan gates the 7-pass replace
    # chain + per-family attribution — PII-free rows (the vast majority) pay
    # a single regex pass instead of 14. Identity-equal to the ungated chain.
    out = out.withColumns({
        "confidence": F.when(~F.col("keep"), F.col("drop_confidence"))
        .when(F.col("drop_confidence") > 0, F.lit(1.0) - F.col("drop_confidence"))
        .otherwise(clean_keep_conf),
        "scrubbed": any_pii_detect_expr(content),
    })
    scrub_hits = F.array(
        *[
            F.when(content.rlike(pat), F.lit(name))
            for name, pat, _repl in SCRUB_RULE_SPECS
        ]
    )
    out = out.withColumns({
        "content_clean": F.when(F.col("scrubbed"), scrub_expr(content)).otherwise(content),
        "scrub_rules": F.when(F.col("scrubbed"), scrub_hits).otherwise(
            F.array().cast("array<string>")
        ),
    })
    # for unscrubbed rows (the vast majority) content_clean IS content, so
    # clean_sha256 == content_sha256 by construction — reuse it instead of
    # paying a second full-content SHA-256 pass per row (guide §1.2
    # per-task work); scrubbed rows still hash their cleaned bytes
    out = out.withColumns({
        "clean_sha256": F.when(
            F.col("scrubbed"), F.sha2(F.col("content_clean"), 256)
        ).otherwise(F.col("content_sha256")),
        "partition_id": F.spark_partition_id(),
    })
    return out, model


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

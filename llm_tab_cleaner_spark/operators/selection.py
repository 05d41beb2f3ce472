"""Data-selection operators for training-corpus curation.

The reference's selection surface stops at uniform sampling
(/root/reference/src/llm_tab_cleaner/core.py:352-358 ``df.sample``) and
rule-based keep/drop. A pretraining pipeline additionally needs
DISTRIBUTION-AWARE selection: choose raw documents that look like a target
domain. This module implements the published hashed-n-gram importance-
weighting scheme (DSIR — Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling", public): each document is scored by the
log-likelihood ratio of a bag-of-n-grams model of the TARGET sample vs one
of the RAW corpus; resampling by these weights shifts the corpus toward the
target distribution.

Spark-first shape (per-step scale notes in the function docstring):
gram extraction is the Java UDF the dedup family uses
(operators/dedup.py:token_multi_ngram_hashes — ONE tokenization pass
produces every n-gram order, no Python stage); count estimation is two
map-side-combined aggregations whose shuffle payload is (8-byte gram hash,
partial count) pairs, never text; scoring is a join against the gram
log-ratio table + a per-doc sum with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.operators.dedup import token_multi_ngram_hashes

#: Default n-gram orders — the DSIR paper's unigram + bigram features.
DSIR_N_VALUES = (1, 2)


def gram_occurrences(
    df: DataFrame,
    id_cols: list[str],
    text_col: str,
    n_values: tuple[int, ...] = DSIR_N_VALUES,
) -> DataFrame:
    """id_cols + one row per token-n-gram OCCURRENCE (multiplicity kept —
    bag-of-n-grams semantics), gram identity as the kernel's 64-bit hash
    ``gh``. ONE Java UDF call for all n (token_multi_ngram_hashes — the
    text is read and tokenized once, not once per n); tokenization is the
    SimHash tokenizer, so gram counts here agree with the
    Jaccard/decontaminate family barring ~2^-64 hash collisions."""
    return token_multi_ngram_hashes(
        df, id_cols, text_col, tuple(n_values), distinct=False
    ).select(*id_cols, F.explode("gram_hashes").alias("gh"))


def dsir_log_weights(
    docs_df: DataFrame,
    id_col: str,
    text_col: str,
    target_df: DataFrame,
    target_text_col: str | None = None,
    n_values: tuple[int, ...] = DSIR_N_VALUES,
    smoothing: float = 1.0,
    buckets: int | None = None,
) -> DataFrame:
    """Per-document DSIR importance log-weight: ``log p_target(doc) −
    log p_raw(doc)`` under add-``smoothing`` bag-of-n-grams models fitted on
    ``target_df`` (the small target-domain sample) and ``docs_df`` (the raw
    corpus itself), over the union vocabulary. Returns one row per input
    doc: ``(id_col, n_grams, dsir_logweight)`` — weight 0.0 for docs with
    no grams. Downstream, resample with probability ∝ exp(weight) (or take
    top-k by weight); `functions/sampling.hash_sample` keeps the selection
    deterministic.

    Semantics: weight = Σ_gram-occurrences [ln(ct(g)+α) − ln(Tt+α·V)
    − ln(cr(g)+α) + ln(Tr+α·V)] where ct/cr are target/raw occurrence
    counts, Tt/Tr the total occurrences, V the union vocabulary size.
    Deterministic — no RNG, no wall clock; double summation order is the
    only run-to-run variation (~1e-12, below any sane rounding).

    Scale shape at 100 TB: the gram table is localCheckpointed once (one
    kernel pass; two consumers — the raw-count agg and the scoring join);
    count aggregation shuffles (8-byte hash, partial count) with map-side
    combine. With ``buckets`` set (the paper's operating point, e.g. 2^20)
    gram hashes fold into a FIXED-size feature space, the log-ratio table
    is ≤ ``buckets`` rows and broadcast — the scoring join then shuffles
    only (id, partial sum) pairs. With ``buckets=None`` (exact grams, the
    oracle-replayable mode) the ratio table is vocabulary-sized and the
    scoring join shuffles on gram hash — fine to ~10^9 distinct grams,
    bucket beyond that."""
    target_text_col = target_text_col or text_col
    a = float(smoothing)
    if a <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")

    doc_grams = gram_occurrences(docs_df, [id_col], text_col, n_values)
    tgt_grams = gram_occurrences(target_df, [], target_text_col, n_values)
    if buckets is not None:
        if buckets < 2:
            raise ValueError(f"buckets must be >= 2, got {buckets}")
        doc_grams = doc_grams.withColumn("gh", F.pmod("gh", F.lit(buckets)))
        tgt_grams = tgt_grams.withColumn("gh", F.pmod("gh", F.lit(buckets)))
    # two consumers (raw counts + scoring join) — materialize the one
    # kernel pass; localCheckpoint, not persist (CacheManager plan-equality
    # reuse makes persist() lie in benchmarks, see CLAUDE.md)
    doc_grams = doc_grams.localCheckpoint(eager=True)

    # Both count tables in ONE map-side-combined aggregation over a tagged
    # union instead of two aggregations + a full-outer join (guide §2.4:
    # two operations keyed the same way share one exchange). The union
    # shuffles each (8-byte hash, two tag ints) row once — the same volume
    # the two separate aggs shuffled — and the vocabulary-sized outer join
    # disappears outright (r6 A/B: 0.93x median wall; cr/ct are identical
    # integers by construction, so every downstream double is unchanged).
    tagged = doc_grams.select(
        "gh", F.lit(1).alias("_r"), F.lit(0).alias("_t")
    ).unionByName(tgt_grams.select("gh", F.lit(0).alias("_r"), F.lit(1).alias("_t")))
    # vocab feeds BOTH totals and the ratio projection — without a
    # materialization the plan recomputes it (and the target-side kernel
    # pass + the full count aggregation behind it) twice
    vocab = (
        tagged.groupBy("gh")
        .agg(F.sum("_r").alias("cr"), F.sum("_t").alias("ct"))
        .localCheckpoint(eager=True)
    )
    totals = vocab.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("cr").alias("tr"),
        F.sum("ct").alias("tt"),
    )
    lr = vocab.crossJoin(F.broadcast(totals)).select(
        "gh",
        (
            (F.log(F.col("ct") + F.lit(a)) - F.log(F.col("tt") + F.lit(a) * F.col("v")))
            - (F.log(F.col("cr") + F.lit(a)) - F.log(F.col("tr") + F.lit(a) * F.col("v")))
        ).alias("lr"),
    )
    if buckets is not None:
        lr = F.broadcast(lr)
    per_doc = (
        doc_grams.join(lr, "gh")
        .groupBy(id_col)
        .agg(F.sum("lr").alias("w"), F.count(F.lit(1)).alias("n_grams"))
    )
    return (
        docs_df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("w", F.lit(0.0)).alias("dsir_logweight"),
        )
    )


def dsir_select(
    docs_df: DataFrame,
    id_col: str,
    text_col: str,
    target_df: DataFrame,
    k: int,
    target_text_col: str | None = None,
    n_values: tuple[int, ...] = DSIR_N_VALUES,
    smoothing: float = 1.0,
    buckets: int | None = None,
    temperature: float = 1.0,
) -> DataFrame:
    """The full DSIR recipe (Xie et al. 2023 §2.3): importance weights →
    sample ``k`` docs WITHOUT replacement with probability ∝
    ``exp(logweight / temperature)`` — here via the deterministic
    Efraimidis-Spirakis draw (``weighted_hash_sample(log_weights=True)``),
    so the selected corpus is reproducible across reruns, partitionings and
    cluster sizes. Returns the selected rows of ``docs_df`` with
    ``dsir_logweight`` and ``sample_score`` attached. ``temperature`` > 1
    flattens the target pull toward uniform; < 1 sharpens it."""
    from llm_tab_cleaner_spark.functions.sampling import weighted_hash_sample

    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = dsir_log_weights(
        docs_df, id_col, text_col, target_df,
        target_text_col=target_text_col, n_values=n_values,
        smoothing=smoothing, buckets=buckets,
    ).select(id_col, (F.col("dsir_logweight") / F.lit(float(temperature))).alias("_lw"),
             "dsir_logweight")
    chosen = weighted_hash_sample(
        docs_df.join(w, id_col), id_col, "_lw", k, log_weights=True
    )
    return chosen.drop("_lw")


def corpus_select_pack(
    docs_df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    size_col: str,
    weights: dict[str, float],
    total_budget: int,
    shard_tokens: int,
    min_size: int | None = None,
    max_size: int | None = None,
) -> DataFrame:
    """The end-to-end corpus assembly recipe — the shape every pretraining
    data pipeline ends with (the reference stops at per-table cleaning;
    this is the beyond-reference §2.9 capstone):

      1. GATE: keep docs whose ``size_col`` lies in [min_size, max_size]
         (pure pushdown-able filter — reaches the parquet scan);
      2. EXACT DEDUP: one winner (min id) per identical ``text_col``
         (sha256 groupBy, map-side combined; winners join back id-keyed);
      3. MIXTURE SELECT: deterministic per-source token-budget sampling
         (``mixture_sample(size_col=...)`` — membership a pure function of
         the id hash, stable across cluster sizes);
      4. PACK: deterministic shard assignment over the SURVIVORS
         (``pack_shards`` two-level prefix sum — no global sort).

    Returns the selected rows + ``tok_start``/``shard_id``/``shard_off``.
    Every stage is a deterministic function of the input VALUES, so the
    whole composition replays in SQL (the ``corpus_select_pack`` driver
    oracle) and produces byte-identical shard layouts at any parallelism.

    Scale: filters push down; dedup shuffles (digest, id) pairs only;
    selection's per-source totals are one broadcast-joined tiny aggregate;
    packing shuffles (bucket, frac, id, tokens). Nothing materializes doc
    text beyond the dedup digest pass."""
    from llm_tab_cleaner_spark.functions.sampling import mixture_sample
    from llm_tab_cleaner_spark.operators.dedup import exact_dedup
    from llm_tab_cleaner_spark.operators.packing import pack_shards

    d = docs_df
    if min_size is not None:
        d = d.filter(F.col(size_col) >= min_size)
    if max_size is not None:
        d = d.filter(F.col(size_col) <= max_size)
    winners = exact_dedup(d, [id_col], text_col).select(id_col)
    # The deduped survivor frame feeds mixture_sample's per-source totals,
    # its membership filter, and pack_shards' bucket aggregate + join-back
    # — without materialization each consumer re-scans the source and
    # re-runs the dedup join (~6 scans of a 100 TB table). localCheckpoint,
    # never persist (CacheManager plan-equality leak — CLAUDE.md); at
    # production scale this is the materialized post-dedup table.
    d = d.join(winners, id_col).localCheckpoint(eager=True)
    sel = mixture_sample(
        d, source_col, id_col, weights, total_budget, size_col=size_col
    )
    return pack_shards(sel, id_col, size_col, shard_tokens)


def quality_buckets(
    df: DataFrame,
    group_col: str,
    score_col: str,
    cuts: tuple[float, ...] = (0.25, 0.75),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style per-group quality bucketing (Wenzek et al. 2020 §4.4 —
    public: bucket each language's documents into head/middle/tail by
    perplexity quantiles; LOWER score = better, so ``labels[0]`` gets the
    lowest-score docs). Adds ``quality_bucket`` to every row.

    Spark-first shape: per-group thresholds are ONE map-side-combined
    aggregation (exact interpolated ``percentile`` — swap in
    ``percentile_approx`` at 100 TB for a sketch-mergeable version with
    the identical plan shape), broadcast-joined back; the label is a pure
    when-chain — NO per-group global sort, no NTILE window (an
    ``ntile() OVER (PARTITION BY group)`` would funnel each group through
    a single reducer — the canonical skew bug this design avoids).

    Determinism note: with binary-fraction cuts (.25/.5/.75) the
    interpolation arithmetic ``lo + frac·(hi-lo)`` is EXACT in doubles for
    integer scores, so bucket membership replays bit-identically in the
    DuckDB oracle (``quantile_cont``). Thirds (1/3) would leave the
    threshold one ulp engine-dependent — documented trade, default stays
    binary."""
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need len(cuts)+1 labels, got {len(cuts)} cuts / {len(labels)} labels"
        )
    if list(cuts) != sorted(cuts) or not all(0.0 < c < 1.0 for c in cuts):
        raise ValueError(f"cuts must be ascending in (0, 1), got {cuts}")
    aggs = [
        F.expr(f"percentile({score_col}, {float(c)!r})").alias(f"_qb_t{i}")
        for i, c in enumerate(cuts)
    ]
    th = df.groupBy(group_col).agg(*aggs)
    d = df.join(F.broadcast(th), group_col)
    expr = F.when(F.col(score_col) <= F.col("_qb_t0"), F.lit(labels[0]))
    for i in range(1, len(cuts)):
        expr = expr.when(F.col(score_col) <= F.col(f"_qb_t{i}"), F.lit(labels[i]))
    expr = expr.otherwise(F.lit(labels[-1]))
    return d.withColumn("quality_bucket", expr).drop(
        *[f"_qb_t{i}" for i in range(len(cuts))]
    )

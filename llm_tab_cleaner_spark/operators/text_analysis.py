"""Text-analysis operators for training-data pipelines — all native exprs.

Quality scoring, token counting, document fingerprinting. These are the
SQL-expressible siblings of the model-based scorer in functions/scoring.py;
both exist because the native forms cost nothing (codegen) and cross-check
the UDF path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.functions import text_features as TF


def token_count(col: Column) -> Column:
    """Whitespace token count (the BPE-ish variant splits punctuation too)."""
    return TF.n_tokens(col)


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish proxy: count word chunks AND punctuation runs separately
    (a regex stand-in for BPE tokenization cost estimates)."""
    spaced = F.regexp_replace(col, r"([^\w\s])", " $1 ")
    pieces = F.filter(F.split(spaced, r"\s+"), lambda t: F.length(t) > 0)
    return F.size(pieces)


def normalized_text(col: Column) -> Column:
    """lowercase + collapse whitespace — the canonical form for fingerprints
    (mirrors reference text normalization, multimodal_cleaning.py:181-210)."""
    return F.lower(F.regexp_replace(TF.ws_strip(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint = md5 of the normalized text."""
    return F.md5(normalized_text(col))


def quality_score(col: Column) -> Column:
    """Heuristic [0,1] quality score from native features (reference shape:
    profiler.py:447-462 — weighted deductions, clamped)."""
    uniq = TF.unique_token_ratio(col)
    alnum = TF.alnum_ratio(col)
    short_pen = F.when(TF.n_tokens(col) < 10, F.lit(0.3)).otherwise(F.lit(0.0))
    raw = F.lit(1.0) - 0.4 * (F.lit(1.0) - uniq) - 0.3 * (F.lit(1.0) - alnum) - short_pen
    return F.round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 4)


# tiny default stopword list (deterministic; callers pass their own for
# real lexicons — this is the operator, not the linguistics)
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that",
)


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Share of whitespace tokens that are stopwords — the classic quality
    signal (too low → code/garbage, mid-range → prose). Not hot-path: uses a
    lambda HOF, fine for analysis queries (the quality-filter projection
    stays lambda-free per CLAUDE.md)."""
    toks = F.filter(F.split(F.trim(col), r"\s+"), lambda t: F.length(t) > 0)
    stops = F.filter(toks, lambda t: F.lower(t).isin(*stopwords))
    return F.when(F.size(toks) > 0, F.size(stops) / F.size(toks)).otherwise(F.lit(0.0))


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_chars: int = 1000,
    overlap: int = 100,
) -> DataFrame:
    """Split long documents into fixed-size character chunks with overlap —
    the standard pre-tokenization shaping step in a training-data pipeline.
    Fully native (sequence + posexplode + substring): one row per chunk with
    (doc id, chunk_id, char_start, chunk text). Chunks start every
    ``chunk_chars - overlap`` characters while text remains; a document
    shorter than one chunk yields exactly one chunk. At 100 TB this is a
    pure map operation — no shuffle, parallel with the scan."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    c = F.col(text_col)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(c) - overlap, F.lit(1)), F.lit(step)
    )
    return (
        df.filter(F.length(c) > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode(starts).alias("chunk_id", "char_start"),
        )
        .select(
            id_col,
            "chunk_id",
            "char_start",
            F.substring(F.col(text_col), F.col("char_start"), chunk_chars).alias("chunk"),
        )
    )


def doc_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass per-document stat bundle."""
    c = F.col(text_col)
    return df.select(
        id_col,
        F.length(c).alias("n_chars_calc"),
        token_count(c).alias("n_tokens"),
        F.round(TF.unique_token_ratio(c), 4).alias("unique_token_ratio"),
        F.round(TF.alnum_ratio(c), 4).alias("alnum_ratio"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fingerprint"),
    )


def build_vocab(
    df: DataFrame, text_col: str, top_k: int = 10_000, lowercase: bool = True
) -> DataFrame:
    """Corpus vocabulary: the ``top_k`` whitespace tokens by occurrence
    count, with a deterministic total order (count desc, token asc) and a
    1-based rank. Tokenizer-coverage companion of ``oov_stats``.

    Scale shape: one shuffle keyed on the token string with map-side
    combine, then ``TakeOrderedAndProject`` for the top-k; the rank window
    runs over the already-limited k-row frame (bounded, single partition of
    k rows — never the corpus). No counterpart in the reference (its
    profiling is per-column stats, profiler.py)."""
    from pyspark.sql import Window

    from llm_tab_cleaner_spark.functions.repetition import words_expr

    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = df.select(F.explode(words_expr(t)).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def oov_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_df: DataFrame,
    lowercase: bool = True,
) -> DataFrame:
    """Per-document out-of-vocabulary stats against ``vocab_df`` (any frame
    with a ``token`` column — typically ``build_vocab`` output): token
    count, OOV token count, and the OOV rate (rounded to 4; 0.0 for empty
    docs). The standard tokenizer-coverage / domain-shift signal a
    pretraining pipeline computes before committing to a tokenizer.

    Scale shape: vocabularies are small (10^4-10^6 tokens) so the vocab
    side broadcasts — the corpus tokens never shuffle for the membership
    test; the per-doc aggregation shuffles only (id, two partial counts)
    with map-side combine."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    from llm_tab_cleaner_spark.functions.repetition import words_expr

    toks = df.select(F.col(id_col).alias("_id"), F.explode(words_expr(t)).alias("token"))
    vocab = F.broadcast(
        vocab_df.select("token").distinct().withColumn("_in_vocab", F.lit(1))
    )
    per_doc = (
        toks.join(vocab, "token", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
            F.round(
                F.when(
                    F.coalesce("n_tokens", F.lit(0)) > 0,
                    F.coalesce("n_oov", F.lit(0))
                    / F.coalesce("n_tokens", F.lit(1)).cast("double"),
                ).otherwise(F.lit(0.0)),
                4,
            )
            .cast("double")
            .alias("oov_rate"),
        )
    )


def unigram_entropy(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document unigram (whitespace-token) Shannon entropy in NATS —
    the RedPajama-v2-style ``unigram_entropy`` quality signal: near 0 means
    one token dominates (spam/keyword stuffing), ln(n_tokens) means all
    tokens distinct. H = ln(N) − Σ c·ln(c)/N over per-doc token counts.

    Returns (id_col, n_tokens, unigram_entropy) — entropy rounded to 4,
    0.0 for empty docs. Scale shape: same as repetition_stats — the token
    shuffle is keyed on (id, xxhash64(token)) with map-side combine (8-byte
    hashes + counts, never text; the ~2^-64 collision caveat is shared with
    the whole gram-hash family), then one per-id partial-aggregated sum."""
    from llm_tab_cleaner_spark.functions.repetition import words_expr

    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(words_expr(F.col(text_col))).alias("w")
    )
    counts = toks.groupBy("_id", F.xxhash64("w").alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per = counts.groupBy("_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("clc"),
    )
    ent = F.round(F.log(F.col("n").cast("double")) - F.col("clc") / F.col("n"), 4)
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(ent, F.lit(0.0)).cast("double").alias("unigram_entropy"),
        )
    )

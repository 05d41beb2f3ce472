"""Winnowing fingerprints for code clone / near-dup detection.

Implements the MOSS document-fingerprinting algorithm (Schleimer, Wilkerson
& Aiken, "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
2003): hash every character k-gram, slide a window of ``w`` consecutive
gram hashes over the document, and in each window select the minimum hash
(rightmost occurrence on ties).  The selected hashes are the document's
fingerprints.  Winnowing guarantees that any shared substring of length
``>= k + w - 1`` produces at least one shared fingerprint, while keeping
the expected fingerprint density at ``2 / (w + 1)`` of the grams — i.e.
the pair-matching join below shuffles ~``2/(w+1)``× the keys an
every-gram join (``ngram_jaccard_pairs``) would, with a provable recall
floor instead of a probabilistic one.  That density/guarantee trade is
exactly what makes the operator the standard choice for source-code clone
detection at corpus scale (MOSS itself, and the same scheme inside
CodeParrot/The-Stack-style dedup pipelines).

Beyond-reference surface: the reference (llm-tab-cleaner) has no
fingerprinting counterpart — its dedup unit is the whole cell/row
(``table_cleaner.py`` exact duplicate checks).  This family targets the
100 TB code-corpus use case per SURVEY §2.9.

Determinism & oracle parity: the gram hash is a polynomial rolling hash
over Unicode CODE POINTS, base 257 modulo the Mersenne prime 2^31-1 —
every intermediate fits comfortably in int64 on BOTH sides (a Java long in
the UDF, BIGINT in DuckDB), so the DuckDB oracle replays hashing, window-min
selection and the rightmost tie-break value-for-value (the tie-break rides
a single BIGINT key ``h * 2^31 + (2^31 - 1 - pos)`` whose window ``min``
is lexicographic (h asc, pos desc)).  Code points — not UTF-8 bytes — so
SQL ``substr``/``unicode`` (character-indexed) match ``str`` indexing.

Scale shape: fingerprinting is one row-at-a-time Java UDF (row-local →
embarrassingly parallel, no Python stage); pair matching is the same
banded join shape as ``ngram_jaccard_pairs`` — explode fingerprints,
document-frequency cap against boilerplate hot keys, int64-keyed
self-join, groupBy pair.  No global sort, no all-pairs product; shuffle
payload is (id, int64 hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_tab_cleaner_spark import jvm as J

#: Mersenne prime 2^31-1: with base 257 and code points < 0x110000 every
#: fold step stays < 2^40 — exact in a Java long and a DuckDB BIGINT.
WINNOW_MOD = (1 << 31) - 1
WINNOW_BASE = 257


def winnow_fingerprints(
    df: DataFrame,
    id_cols: list[str],
    content_col: str,
    k: int = 8,
    window: int = 16,
) -> DataFrame:
    """``id_cols`` + ``fp_hashes`` (array<long>): the distinct winnowing
    fingerprints of ``content_col`` per row, sorted (empty array for NULL
    and for rows shorter than ``k`` characters).

    One Java UDF (``Signatures.Winnow`` in ``jvm/Signatures.java``), row
    local: a row's fingerprints depend only on its own text. A row with at
    most ``window`` grams is one window, the paper's convention and what
    the guarantee needs for short files.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k}, window={window}")
    name = J.session_udf(
        df.sparkSession, "llm_tab_cleaner_winnow", repr((k, window)).encode(),
        J.SIGNATURES_CLASS, "registerWinnow", k, window,
    )
    fp = F.call_function(name, F.col(content_col))
    return df.select(*id_cols, fp.alias("fp_hashes"))


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 8,
    window: int = 16,
    min_shared: int = 2,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """All document pairs sharing ``>= min_shared`` winnowing fingerprints:
    (id_a, id_b, n_shared, overlap) with id_a < id_b, where ``overlap`` =
    n_shared / min(|fp_a|, |fp_b|) rounded to 4 places (the containment
    form — a small file wholly pasted into a big one still scores ~1.0,
    which is the clone-detection semantics MOSS reports).

    Same scale hardening as ``ngram_jaccard_pairs``: fingerprints whose
    document frequency exceeds ``max_doc_freq`` are dropped before the
    self-join (a license-header fingerprint shared by half the corpus is a
    quadratic hot key that tells you nothing about any single pair); the
    result is exact whenever every fingerprint is rarer than the cap.
    """
    fp = winnow_fingerprints(
        df.select(F.col(id_col).alias("id"), content_col),
        ["id"],
        content_col,
        k,
        window,
    ).filter(F.size("fp_hashes") > 0)
    # multi-consumer intermediate (sizes + both join sides): localCheckpoint,
    # never persist (CacheManager plan-equality leak — CLAUDE.md)
    fp = fp.localCheckpoint(eager=True)
    sizes = fp.select("id", F.size("fp_hashes").alias("n_fp"))
    exploded = fp.select("id", F.explode("fp_hashes").alias("fp_h"))
    rare = (
        exploded.groupBy("fp_h")
        .agg(F.count(F.lit(1)).alias("fp_df"))
        .filter(F.col("fp_df") <= max_doc_freq)
        .select("fp_h")
    )
    kept = exploded.join(rare, "fp_h")
    shared = (
        kept.alias("x")
        .join(kept.alias("y"), "fp_h")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_fp").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_fp").alias("nb")),
            "id_b",
        )
        .withColumn(
            "overlap",
            F.round(F.col("n_shared") / F.least(F.col("na"), F.col("nb")), 4),
        )
        .select("id_a", "id_b", "n_shared", "overlap")
    )

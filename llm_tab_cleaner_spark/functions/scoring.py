"""Language-ID + perplexity scorer: one Java UDF on the hot path.

Replaces the reference's per-value LLM call
(/root/reference/src/llm_tab_cleaner/llm_providers.py:29-66, 370-404) with a
deterministic hashed char-trigram model:

* **langid** — multinomial naive-Bayes over hashed char trigrams
  (fastText-style bag-of-ngrams linear model; 4096 buckets × |languages|).
* **perplexity** — cross-entropy (bits/trigram) under a smoothed hashed
  trigram unigram model (2^15 buckets) trained on the seed corpus; garbled
  text scores several bits above the training mean.

``train_model`` fits the tables in Python. ``with_scores`` runs the scorer
as the Java UDF in ``jvm/Scorer.java`` (compiled by ``build_session``): the
tables reach it as constructor arguments, and the whole score — both model
heads, the token/alnum stats and the null-ish check — is computed in the
JVM, inside the query's codegen stage, with no Python stage at all.
``ScoringModel.score_batch`` is the numpy reference kernel the Java port
equals field for field (``tests/test_scoring_jvm.py``); it is vectorized
across a batch, with per-row reductions via ``np.add.reduceat`` /
``np.bincount``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from llm_tab_cleaner_spark import jvm as J
from llm_tab_cleaner_spark.functions import thresholds as TH
from llm_tab_cleaner_spark.functions.corpus import training_corpus
from llm_tab_cleaner_spark.jvm import SCORER_CLASS

B_LANG = 4096  # langid hash buckets (small: scatter-add builds n_rows × B_LANG)
B_PPL = 1 << 15  # perplexity hash buckets
_SMOOTH_K = 0.1

SCORE_SCHEMA = (
    "lang_pred string, lang_margin double, ppl_bits double, "
    "n_tokens int, n_distinct_tokens int, unique_token_ratio double, "
    "alnum_ratio double, is_nullish boolean"
)

# is_nullish rides the scorer (round-3 VERDICT #6): as a Column expression
# its lower(ws_strip(...)) scan was inlined TWICE into every pushed-down
# keep filter (nullish rule + short rule's negation); behind the scorer's
# barrier it is computed once, on the whole text (not the scored prefix),
# with the ASCII-only case folding thresholds.NULLISH_TOKENS states.
_ASCII_WS = b" \t\n\x0b\x0c\r"
_NULLISH_BYTES = frozenset(t.encode("ascii") for t in TH.NULLISH_TOKENS)
_NULLISH_MAX_BYTES = max(len(t) for t in TH.NULLISH_TOKENS)

_FMIX1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX2 = np.uint64(0xC4CEB9FE1A85EC53)
_POLY_P = np.uint64(1099511628211)

# per-byte class table: 1 = ASCII alnum, 2 = ASCII whitespace (Java \s set),
# 3 = UTF-8 continuation byte (0x80-0xBF; total chars = bytes - count(3)).
# int8: the gather's output is blob-sized, so element width IS bandwidth
_BYTE_CLS = np.zeros(256, dtype=np.int8)
for _b in (b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"):
    _BYTE_CLS[_b] = 1
for _b in b" \t\n\x0b\x0c\r":
    _BYTE_CLS[_b] = 2
_BYTE_CLS[0x80:0xC0] = 3


def _batch_text_stats(
    blob: np.ndarray, lens: np.ndarray, byte_row: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(n_tokens, n_distinct_tokens, unique_token_ratio, alnum_ratio,
    nonws_bytes) per row, all from the concatenated byte blob — zero
    per-row Python. nonws_bytes (bytes that are not ASCII whitespace) feeds
    the nullish candidate pre-filter in score_batch.

    Matches the native expressions char-for-char on any valid UTF-8:
    whitespace is the ASCII Java-\\s set (multibyte chars never match), token
    identity is byte identity, alnum is ASCII, and character counts come
    from bytes minus UTF-8 continuation bytes. These stats used to live in
    Column expressions, but Catalyst's predicate pushdown inlines a derived
    `keep` into filters, re-evaluating each split/regexp 4-9× per row (the
    round-2 plan audit); behind the scorer's barrier they are computed
    exactly once.
    """
    nt = np.zeros(n, dtype=np.int32)
    nd = np.zeros(n, dtype=np.int32)
    uniq = np.ones(n, dtype=np.float64)
    alnum = np.ones(n, dtype=np.float64)
    if blob.size == 0:
        return nt, nd, uniq, alnum, np.zeros(n, dtype=np.int64)

    cls = _BYTE_CLS[blob]
    # one combined bincount: per-row counts of [other, alnum, ws, cont]
    counts = np.bincount(byte_row * 4 + cls, minlength=4 * n).reshape(n, 4)
    nonws_bytes = lens - counts[:, 2]
    n_chars = lens - counts[:, 3]  # chars = bytes - continuation bytes
    nonspace = n_chars - counts[:, 2]
    with np.errstate(invalid="ignore", divide="ignore"):
        alnum = np.where(nonspace > 0, counts[:, 1] / np.maximum(nonspace, 1), 1.0)

    ws = cls == 2
    prev_ws = np.empty(blob.size, dtype=bool)
    prev_ws[0] = True
    prev_ws[1:] = ws[:-1]
    is_start = ~ws & prev_ws
    row_starts = (np.cumsum(lens) - lens)[lens > 0]
    is_start[row_starts] = ~ws[row_starts]
    tok_starts = np.nonzero(is_start)[0]
    if tok_starts.size == 0:
        return nt, nd, uniq, alnum, nonws_bytes

    tok_row = byte_row[tok_starts]
    nt = np.bincount(tok_row, minlength=n).astype(np.int32)

    # token hash: polynomial over bytes (offset-weighted), fmix64 finalizer.
    # offset-in-token via maximum.accumulate of the start positions — 2.4×
    # cheaper than the cumsum-token-id + gather form (fewer blob-sized
    # intermediates; this function is bandwidth-bound)
    ar = np.arange(blob.size, dtype=np.int64)
    last_start = np.where(is_start, ar, np.int64(-1))
    np.maximum.accumulate(last_start, out=last_start)
    off = np.maximum(ar - last_start, 0)
    pows = np.ones(int(off.max()) + 1, dtype=np.uint64)
    if pows.size > 1:
        np.cumprod(np.full(pows.size - 1, _POLY_P, dtype=np.uint64), out=pows[1:])
    w = blob.astype(np.uint64) * pows[off]
    w[ws] = 0
    h = np.add.reduceat(w, tok_starts)
    h ^= h >> np.uint64(33)
    h *= _FMIX1
    h ^= h >> np.uint64(33)
    h *= _FMIX2
    h ^= h >> np.uint64(33)

    # distinct (row, token-hash) count via ONE single-key sort: row index
    # packed into the top 12 bits, hash truncated to 52 bits — 7× faster
    # than the two-key lexsort. Within-row collision odds go from 2^-64 to
    # T²/2^53 (~1e-8 for a 10k-token prefix) — the same accepted
    # hash-distinctness caveat. BOTH paths compare the SAME 52 truncated
    # bits: a full-width fallback would let nd differ by batch size
    # (batch-composition determinism rule), and the JVM scorer compares the
    # same 52 bits. Batches of ≤4096 rows take the packed path (its
    # 12-row-index-bit limit); the lexsort fallback covers larger ones.
    h52 = h >> np.uint64(12)
    if n <= 4096:
        packed = (tok_row.astype(np.uint64) << np.uint64(52)) | h52
        sp = np.sort(packed)
        first = np.ones(sp.size, dtype=bool)
        first[1:] = sp[1:] != sp[:-1]
        nd = np.bincount(
            (sp >> np.uint64(52)).astype(np.int64)[first], minlength=n
        ).astype(np.int32)
    else:
        order = np.lexsort((h52, tok_row))
        hs, rs = h52[order], tok_row[order]
        first = np.ones(hs.size, dtype=bool)
        first[1:] = (hs[1:] != hs[:-1]) | (rs[1:] != rs[:-1])
        nd = np.bincount(rs[first], minlength=n).astype(np.int32)
    uniq = np.where(nt > 0, nd / np.maximum(nt, 1), 1.0)
    return nt, nd, uniq, alnum, nonws_bytes


def _score_prefix(b: bytes) -> bytes:
    """The first TH.SCORE_PREFIX_CHARS characters of UTF-8 bytes: a character
    starts at every byte that is not a continuation byte (0x80-0xBF), as in
    Spark's ``substring`` on valid UTF-8."""
    if len(b) <= TH.SCORE_PREFIX_CHARS:
        return b
    starts = np.flatnonzero((np.frombuffer(b, dtype=np.uint8) & 0xC0) != 0x80)
    return b[: starts[TH.SCORE_PREFIX_CHARS]] if starts.size > TH.SCORE_PREFIX_CHARS else b


def _trigram_buckets(data: np.ndarray, n_buckets: int) -> np.ndarray:
    """Hash every length-3 byte window: (b0*961 + b1*31 + b2) & (n_buckets-1).

    int32 end-to-end (max raw value 253k < 2^31) and bitwise-AND modulo —
    the scorer is memory-bandwidth-bound, so halving intermediate widths
    matters more than instruction count. n_buckets must be a power of two.
    """
    if data.size < 3:
        return np.empty(0, dtype=np.int32)
    x = data.astype(np.int32)
    return (x[:-2] * 961 + x[1:-1] * 31 + x[2:]) & (n_buckets - 1)


@dataclass
class ScoringModel:
    languages: tuple[str, ...]
    lang_logprob: np.ndarray  # (L, B_LANG) float32 log P(bucket | lang)
    ppl_bits_table: np.ndarray  # (B_PPL,) float32 -log2 P(bucket)
    train_mean_bits: float
    ppl_drop_bits: float  # decision threshold (train mean + margin)

    # ---- batch scoring (the reference kernel, vectorized across rows) ----
    def score_batch(self, texts: pd.Series) -> pd.DataFrame:
        """Scores for a batch of texts (bytes, str, or None = empty); the
        JVM scorer equals this field for field. The scores read each text's
        first TH.SCORE_PREFIX_CHARS characters; is_nullish reads all of it."""
        # bytes rows are scored as given; str rows are UTF-8 encoded first
        full = [
            t if isinstance(t, bytes)
            else (t.encode("utf-8", "replace") if isinstance(t, str) else b"")
            for t in texts
        ]
        raw = [_score_prefix(b) for b in full]
        lens = np.fromiter((len(b) for b in raw), dtype=np.int64, count=len(raw))
        blob = np.frombuffer(b"".join(raw), dtype=np.uint8)
        n = len(raw)
        out_lang = np.full(n, None, dtype=object)
        out_margin = np.zeros(n, dtype=np.float64)
        out_bits = np.zeros(n, dtype=np.float64)

        byte_row = np.repeat(np.arange(n, dtype=np.int32), lens)
        nt, nd, uniq, alnum, nonws = _batch_text_stats(blob, lens, byte_row, n)

        # nullish flag: only rows whose prefix has ≤ max-token non-ws bytes
        # can match an (ASCII) nullish token, so the per-row strip/lower/
        # set-probe of the full text runs on that tiny candidate set. Row-
        # local by construction (batch-composition rule).
        out_nullish = np.zeros(n, dtype=bool)
        for i in np.nonzero(nonws <= _NULLISH_MAX_BYTES)[0]:
            out_nullish[i] = full[i].strip(_ASCII_WS).lower() in _NULLISH_BYTES

        if blob.size >= 3:
            # a window starting at byte i is valid iff byte i and i+2
            # belong to the same row
            row_of = byte_row[:-2]
            valid = row_of == byte_row[2:]
            rows_v = row_of[valid]
            # ROW-LOCAL offset of each window (batch-composition-independent;
            # a global stride would make scores depend on preceding rows)
            starts32 = (np.cumsum(lens) - lens).astype(np.int32)
            loc = np.arange(blob.size - 2, dtype=np.int32) - starts32[row_of]
            loc_v = loc[valid]

            # ONE hash pass feeds both tables: ppl bucket = h, lang bucket =
            # h & (B_LANG-1). Everything is memory-bandwidth-bound — minimize
            # intermediates (int32/float32, strided sampling for BOTH heads).
            hp = _trigram_buckets(blob, B_PPL)
            hp_v = hp[valid]
            # ppl over a row-local stride-2 sample: the mean bits/trigram is
            # the same estimator on half the windows (SE ~0.1 bits on 1 KB,
            # decision margin is 3 bits), the gather+bincount traffic halves,
            # and row-local offsets keep it batch-composition independent
            samp2 = loc_v % 2 == 0
            hp_s = hp_v[samp2]
            rows_s = rows_v[samp2]
            bits = self.ppl_bits_table[hp_s]  # float32 gather, table in L2
            sums = np.bincount(rows_s, weights=bits, minlength=n)
            vcounts = np.bincount(rows_s, minlength=n).astype(np.float64)
            np.divide(sums, np.maximum(vcounts, 1.0), out=out_bits)

            # langid NB logits without a dense (n, B_LANG) histogram (that
            # 50 MB/batch allocation saturated bandwidth and anti-scaled at
            # 32 workers): per language, gather log-probs (16 KB table,
            # L1-resident) and weighted-bincount into n row sums. Row-local
            # stride-3 sampling: 3× less traffic, margins are normalized
            # per sampled trigram so thresholds are unaffected.
            sample = loc_v % 3 == 0
            hl_v = (hp_v & (B_LANG - 1))[sample]
            rows_l = rows_v[sample]
            logits = np.empty((n, len(self.languages)), dtype=np.float64)
            for li in range(len(self.languages)):
                vals = self.lang_logprob[li][hl_v]
                logits[:, li] = np.bincount(rows_l, weights=vals, minlength=n)
            order = np.argsort(logits, axis=1)
            top1 = order[:, -1]
            top2 = order[:, -2]
            tri_counts = np.bincount(rows_l, minlength=n).astype(np.float64)
            margin = (
                logits[np.arange(n), top1] - logits[np.arange(n), top2]
            ) / np.maximum(tri_counts, 1.0)
            langs = np.asarray(self.languages, dtype=object)
            scored = tri_counts >= 8  # too little text → no confident call
            out_lang[scored] = langs[top1[scored]]
            out_margin[scored] = margin[scored]

        return pd.DataFrame(
            {
                "lang_pred": out_lang,
                "lang_margin": out_margin,
                "ppl_bits": out_bits,
                "n_tokens": nt,
                "n_distinct_tokens": nd,
                "unique_token_ratio": uniq,
                "alnum_ratio": alnum,
                "is_nullish": out_nullish,
            }
        )


def train_model(ppl_margin_bits: float = 3.0) -> ScoringModel:
    """Deterministically fit the model on the embedded seed corpus."""
    corpus = training_corpus()
    languages = tuple(sorted(corpus))
    lang_counts = np.full((len(languages), B_LANG), _SMOOTH_K, dtype=np.float64)
    ppl_counts = np.full(B_PPL, _SMOOTH_K, dtype=np.float64)

    for li, lang in enumerate(languages):
        for text in corpus[lang]:
            data = np.frombuffer(text.encode("utf-8", "replace"), dtype=np.uint8)
            hl = _trigram_buckets(data, B_LANG)
            hp = _trigram_buckets(data, B_PPL)
            np.add.at(lang_counts[li], hl, 1.0)
            np.add.at(ppl_counts, hp, 1.0)

    lang_logprob = np.log(lang_counts / lang_counts.sum(axis=1, keepdims=True)).astype(
        np.float32
    )
    ppl_p = ppl_counts / ppl_counts.sum()
    ppl_bits_table = (-np.log2(ppl_p)).astype(np.float32)

    # training-corpus mean bits/trigram → decision threshold
    total_bits = 0.0
    total_tri = 0
    for texts in corpus.values():
        for text in texts:
            data = np.frombuffer(text.encode("utf-8", "replace"), dtype=np.uint8)
            hp = _trigram_buckets(data, B_PPL)
            total_bits += float(ppl_bits_table[hp].sum())
            total_tri += hp.size
    mean_bits = total_bits / max(total_tri, 1)

    return ScoringModel(
        languages=languages,
        lang_logprob=lang_logprob,
        ppl_bits_table=ppl_bits_table,
        train_mean_bits=mean_bits,
        ppl_drop_bits=mean_bits + ppl_margin_bits,
    )


_MODEL_CACHE: dict[str, ScoringModel] = {}


def default_model() -> ScoringModel:
    if "default" not in _MODEL_CACHE:
        _MODEL_CACHE["default"] = train_model()
    return _MODEL_CACHE["default"]


def _scorer_function(spark: SparkSession, model: ScoringModel) -> str:
    """Name of the session function scoring with ``model``; registers the
    Java UDF on first use in a session. The name carries a hash of the model
    tables and the constructor's other arguments, so each (session, model)
    registers once."""
    lang = np.ascontiguousarray(model.lang_logprob, dtype="<f4").tobytes()
    ppl = np.ascontiguousarray(model.ppl_bits_table, dtype="<f4").tobytes()
    params = repr((model.languages, TH.NULLISH_TOKENS, TH.SCORE_PREFIX_CHARS))
    return J.session_udf(
        spark, "llm_tab_cleaner_score", params.encode() + lang + ppl, SCORER_CLASS, "register",
        SCORE_SCHEMA, list(model.languages), list(TH.NULLISH_TOKENS), TH.SCORE_PREFIX_CHARS,
        lang, ppl,
    )


def with_scores(df, content_col: str, spark: SparkSession, model: ScoringModel | None = None):
    """df + (lang_pred, lang_margin, ppl_bits, n_tokens, n_distinct_tokens,
    unique_token_ratio, alnum_ratio, is_nullish) from the single JVM scorer
    UDF, which receives the full content: the first seven read its first
    TH.SCORE_PREFIX_CHARS characters, is_nullish reads all of it (the UDF
    makes the cut, so callers pass the whole column). NULL content scores
    as the empty string. The UDF is registered
    nondeterministic, which is the planner barrier: Catalyst does not push a
    filter through a nondeterministic Project, so a downstream ``keep``
    filter reads the scorer's outputs instead of inlining (and re-running)
    the scorer or any stat derived from it."""
    model = model or default_model()
    name = _scorer_function(spark, model)
    # encode() to UTF-8 hands the JVM the string's own bytes (no decode)
    scored = df.withColumn(
        "_score", F.call_function(name, F.encode(F.col(content_col), "UTF-8"))
    )
    # one withColumns stage: the analyzer runs once, not once per field
    fields = (
        "lang_pred", "lang_margin", "ppl_bits",
        "n_tokens", "n_distinct_tokens", "unique_token_ratio", "alnum_ratio",
        "is_nullish",
    )
    out = scored.withColumns({f: F.col(f"_score.{f}") for f in fields})
    return out.drop("_score"), model

"""Published web/code corpus quality heuristics: Gopher, C4, The Stack.

Three operator families a web-scale pretraining pipeline runs between raw
ingestion and the (expensive) model scorer, complementing the repetition
features in functions/repetition.py:

- ``gopher_quality_stats`` — the Gopher quality rules (Rae et al. 2021,
  appendix A1.1 — public): word-count bounds, mean word length, symbol-to-
  word ratio, bullet/ellipsis line fractions, alpha-word fraction, stop-word
  presence, and the combined keep flag at the published operating points.
- ``c4_clean`` — the C4 heuristics (Raffel et al. 2020 §2.2 — public):
  line-level terminal-punctuation + min-words + boilerplate-phrase filters,
  page-level lorem-ipsum / curly-brace / min-sentences gates, and the
  cleaned text reassembled from the surviving lines.
- ``code_quality_stats`` — The Stack / SantaCoder code filters (Kocetkov et
  al. 2022; Allal et al. 2023 — public): mean/max line length, alphanumeric
  fraction, embedded-encoded-data fraction, auto-generated markers, and the
  combined keep flag.

The reference repo has no corpus-level web-quality pass (its per-value text
heuristics live in multimodal_cleaning.py:156-245 and are mirrored by
functions/text_features.py); these are the corpus-pipeline complements,
same tier as functions/repetition.py.

SCALE SHAPE: every operator here is a PURE PER-ROW PROJECTION — no shuffle,
no Python UDF (the zlib length of ``compression_stats`` is a Java UDF), no
driver round-trip. At 100 TB each is one map stage fused into the
scan (C4's line filter uses one array HOF lambda, which costs codegen for
its projection but still runs JVM-side and row-local — these operators are
standalone stages, not part of the quality-filter hot-path projection whose
lambda-free contract tests/test_plans.py enforces).

REGEX DIALECT CONSTRAINT (same rule as functions/pii.py and repetition.py):
every pattern runs in Spark (Java), the DuckDB oracle (RE2) and pytest
(Python re). Multiline anchors are AVOIDED entirely — Java's (?m)^/$ also
match around bare \\r/\\u2028/\\u2029 where RE2/Python only honor \\n — by
counting line-start/line-end matches against explicit "\\n"-delimited
normalized sources instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_tab_cleaner_spark import jvm as J
from llm_tab_cleaner_spark.functions import thresholds as TH
from llm_tab_cleaner_spark.functions.repetition import (
    lines_expr,
    normalized_lines_source,
    words_expr,
)
from llm_tab_cleaner_spark.functions.text_features import alnum_ratio, is_autogen

_WS_NL = "[ \\t\\r\\f\\n]"
_HWS = "[ \\t\\r\\f]"

#: bullet characters the Gopher bullet-line rule recognizes at line start
BULLET_CLASS = "[-*•‣▪]"

#: line terminators the C4 terminal-punctuation rule accepts: sentence
#: punctuation or a closing double quote (ASCII or U+201D). The ASCII
#: apostrophe is deliberately excluded — it would need engine-specific
#: escaping in the SQL oracle for no coverage gain.
C4_TERMINAL_CLASS = "[.!?\"”]"

#: embedded-data run patterns (The Stack data-file heuristic): long base64
#: alphabet runs and long hex runs. Both are plain character-class
#: repetitions — identical semantics in Java/RE2/Python.
_BASE64_RUN = "[A-Za-z0-9+/=]{%d,}" % TH.STACK_BASE64_RUN_MIN
_HEX_RUN = "[0-9a-fA-F]{%d,}" % TH.STACK_HEX_RUN_MIN


def _count(col: Column, pattern: str) -> Column:
    """regexp_count with a 0 for NULL input — counts are BIGINT."""
    return F.coalesce(F.regexp_count(col, F.lit(pattern)), F.lit(0)).cast("bigint")


def _frac(num: Column, den: Column) -> Column:
    """num/den rounded to 4, 0.0 when the denominator is 0 (DOUBLE)."""
    return F.round(
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 4
    ).cast("double")


def gopher_quality_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Gopher quality rules (Rae et al. 2021 A1.1 — public).

    Returns one row per input row:
      id_col, n_words, n_lines, mean_word_len, symbol_word_ratio,
      bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
      gopher_keep

    Rule definitions (fractions rounded to 4, DOUBLE; counts BIGINT):
    - words = whitespace-separated tokens (functions/repetition.words_expr);
      lines = non-blank trimmed lines (repetition.lines_expr).
    - mean_word_len = total word chars / n_words.
    - symbol_word_ratio = (count('#') + count('...') + count('\\u2026'))
      / n_words — the paper's hash/ellipsis symbol rule.
    - bullet_line_frac = lines starting with -, *, or a unicode bullet /
      n_lines; ellipsis_line_frac = lines ending with '...' or '\\u2026' /
      n_lines. Both counted against the explicit "\\n"-delimited normalized
      source (no multiline anchors — see module docstring).
    - alpha_word_frac = words containing >= 1 ASCII letter / n_words.
    - n_stop_hits = how many DISTINCT words of TH.GOPHER_STOPWORDS appear
      (case-insensitive whole-word membership).
    - gopher_keep = every rule inside its TH.GOPHER_* operating point.

    Pure native projection: no shuffle, no UDF, no lambda HOF.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = words_expr(t)
    n_words = F.size(words).cast("bigint")
    word_chars = F.length(F.concat_ws("", words))
    mean_word_len = _frac(word_chars, n_words)

    hash_n = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    dots_n = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    uell_n = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    symbol_word_ratio = _frac(hash_n + dots_n + uell_n, n_words)

    norm = normalized_lines_source(t)
    n_lines = F.size(lines_expr(t)).cast("bigint")
    bullet_n = _count(F.concat(F.lit("\n"), norm), "\n" + BULLET_CLASS)
    ell_line_n = _count(
        F.concat(norm, F.lit("\n")), "(\\.\\.\\.|…)\n"
    )
    bullet_line_frac = _frac(bullet_n, n_lines)
    ellipsis_line_frac = _frac(ell_line_n, n_lines)

    # one non-overlapping match per word containing a letter: the leading
    # whitespace (or the prepended sentinel space) is consumed by the match,
    # so a word can never be counted twice
    alpha_words = _count(
        F.concat(F.lit(" "), t), _WS_NL + "[^ \\t\\r\\f\\n]*[A-Za-z]"
    )
    alpha_word_frac = _frac(alpha_words, n_words)

    words_lc = words_expr(F.lower(t))
    n_stop_hits = sum(
        (F.array_contains(words_lc, w).cast("int") for w in TH.GOPHER_STOPWORDS),
        start=F.lit(0),
    ).cast("bigint")

    keep = (
        (n_words >= TH.GOPHER_MIN_WORDS)
        & (n_words <= TH.GOPHER_MAX_WORDS)
        & (mean_word_len >= TH.GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len <= TH.GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_word_ratio <= TH.GOPHER_SYMBOL_WORD_RATIO_MAX)
        & (bullet_line_frac <= TH.GOPHER_BULLET_LINE_FRAC_MAX)
        & (ellipsis_line_frac <= TH.GOPHER_ELLIPSIS_LINE_FRAC_MAX)
        & (alpha_word_frac >= TH.GOPHER_ALPHA_WORD_FRAC_MIN)
        & (n_stop_hits >= TH.GOPHER_MIN_STOPWORD_HITS)
    )

    return df.select(
        id_col,
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        n_stop_hits.alias("n_stop_hits"),
        keep.alias("gopher_keep"),
    )


def c4_keep_line_pred(line: Column) -> Column:
    """The C4 per-line keep predicate: ends in terminal punctuation, has at
    least C4_MIN_WORDS_PER_LINE words, and contains none of the lowercase
    drop phrases. ``line`` is a trimmed, newline-free line."""
    pred = line.rlike(C4_TERMINAL_CLASS + "$") & (
        F.size(F.split(line, _HWS + "+")) >= TH.C4_MIN_WORDS_PER_LINE
    )
    lc = F.lower(line)
    for phrase in TH.C4_LINE_DROP_PHRASES:
        pred = pred & ~lc.contains(phrase)
    return pred


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    badwords: tuple[str, ...] = (),
) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2 — public), per document.

    Line stage: keep only trimmed non-blank lines that (a) end in a terminal
    punctuation mark or closing double quote, (b) contain at least
    ``C4_MIN_WORDS_PER_LINE`` whitespace words, (c) contain none of
    ``C4_LINE_DROP_PHRASES`` (lowercased substring match — the paper's
    javascript/citation/policy-boilerplate line filters).

    Page stage (computed on the ORIGINAL text, as the paper applies its
    page filters to the source page): drop when "lorem ipsum" appears
    (lowercased), when "{" appears (the javascript-code filter), when any
    ``badwords`` entry appears as a lowercase substring, or when the CLEANED
    text has fewer than ``C4_MIN_SENTENCES`` sentences. Sentences are
    counted as terminal-punctuation occurrences followed by optional closing
    quote and whitespace/end — deterministic and mirrored by the oracle.

    The paper's cross-page three-sentence dedup is NOT here — that is the
    corpus-level pass ``operators/dedup.strip_duplicate_paragraphs`` covers
    at paragraph granularity.

    Returns: id_col, text_clean, n_lines, n_lines_kept, n_sentences,
    has_lorem, has_brace, c4_keep. Pure per-row projection — the line
    filter is one JVM-side array HOF; no shuffle, no UDF.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    ls = lines_expr(t)
    kept = F.filter(ls, c4_keep_line_pred)
    text_clean = F.concat_ws("\n", kept)
    # sentence = terminal punctuation, optional closing double quote, then
    # whitespace; appending one "\n" turns end-of-text into a whitespace
    # boundary without multiline anchors (module docstring)
    n_sentences = _count(
        F.concat(text_clean, F.lit("\n")), "[.!?][\"”]?" + _WS_NL
    )
    lc = F.lower(t)
    has_lorem = lc.contains("lorem ipsum")
    has_brace = t.contains("{")
    keep = (n_sentences >= TH.C4_MIN_SENTENCES) & ~has_lorem & ~has_brace
    for w in badwords:
        keep = keep & ~lc.contains(w.lower())
    return df.select(
        id_col,
        text_clean.alias("text_clean"),
        F.size(ls).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("c4_keep"),
    )


def code_quality_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Stack / SantaCoder code-quality filters, per file (public
    operating points, Kocetkov et al. 2022 §2; Allal et al. 2023 §3).

    Returns one row per input row:
      id_col, n_lines, max_line_len, mean_line_len, alnum_frac,
      encoded_data_frac, is_autogen, stack_keep

    - lines here are RAW "\\n"-split lines (blank lines count — mean line
      length over the file as stored, the published definition), after
      normalizing \\r\\n to \\n.
    - mean_line_len = non-newline chars / n_lines.
    - alnum_frac = alphanumeric / non-whitespace chars
      (functions/text_features.alnum_ratio — translate-based, no regex).
    - encoded_data_frac = chars inside long base64-alphabet runs (>=
      STACK_BASE64_RUN_MIN) or long hex runs (>= STACK_HEX_RUN_MIN) / total
      chars — the embedded-data heuristic; measured by length delta after
      regexp_replace, one scan per pattern.
    - is_autogen = the contains()-chain marker predicate
      (functions/text_features.is_autogen).
    - stack_keep = mean_line_len <= STACK_MEAN_LINE_LEN_MAX AND
      max_line_len <= MAX_LINE_LEN AND alnum_frac >= STACK_ALNUM_FRAC_MIN
      AND encoded_data_frac <= STACK_ENCODED_FRAC_MAX AND NOT is_autogen.

    Pure per-row projection (the max-line-length uses one array HOF —
    standalone stage, not the quality-filter hot path).
    """
    t = F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), "\r\n", "\n")
    raw_lines = F.split(t, "\n")
    n_lines = F.size(raw_lines).cast("bigint")
    line_chars = F.length(t) - (n_lines - 1)
    mean_line_len = _frac(line_chars, n_lines)
    max_line = F.coalesce(
        F.array_max(F.transform(raw_lines, lambda ln: F.length(ln))), F.lit(0)
    ).cast("bigint")
    alnum_frac = F.round(alnum_ratio(t), 4).cast("double")
    total = F.length(t)
    # base64 runs removed first, then hex runs on the remainder — a hex run
    # inside a base64 run is never double-counted
    encoded_chars = total - F.length(
        F.regexp_replace(F.regexp_replace(t, _BASE64_RUN, ""), _HEX_RUN, "")
    )
    encoded_frac = _frac(encoded_chars, total)
    autogen = F.coalesce(is_autogen(t), F.lit(False))
    keep = (
        (mean_line_len <= TH.STACK_MEAN_LINE_LEN_MAX)
        & (max_line <= TH.MAX_LINE_LEN)
        & (alnum_frac >= TH.STACK_ALNUM_FRAC_MIN)
        & (encoded_frac <= TH.STACK_ENCODED_FRAC_MAX)
        & ~autogen
    )
    return df.select(
        id_col,
        n_lines.alias("n_lines"),
        max_line.alias("max_line_len"),
        mean_line_len.alias("mean_line_len"),
        alnum_frac.alias("alnum_frac"),
        encoded_frac.alias("encoded_data_frac"),
        autogen.alias("is_autogen"),
        keep.alias("stack_keep"),
    )


def compression_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    max_ratio: float = 0.98,
    min_ratio: float = 0.05,
) -> DataFrame:
    """Per-document zlib compression ratio — the redundancy signal web
    pipelines (e.g. RedPajama-v2's ccnet_* quality signals — public) use to
    catch both pathological repetition (ratio near 0: boilerplate, spam,
    keyword stuffing — compresses away) and binary-ish junk (ratio near 1:
    already-compressed or random bytes hiding in a text column).

    Returns: id_col, n_bytes (UTF-8), n_bytes_compressed, compress_ratio
    (compressed/raw, rounded to 4; 0.0 for empty docs), compress_keep
    (min_ratio <= ratio <= max_ratio; empty docs fail the floor).

    Implementation: ``n_bytes`` is the native ``octet_length``, and
    ``n_bytes_compressed`` one Java UDF (``Signatures.DeflatedLength``, a
    ``java.util.zip.Deflater`` at ``level``); NULL text gives 0 for both.
    The length equals Python's ``zlib.compress`` when both link the same
    zlib: the JDK's ``Deflater`` links the system zlib here (1.2.13, the
    same as Python's). A JDK that bundles a different zlib may differ by a
    few bytes; the golden test (tests/test_webquality.py) is what catches
    that. No DuckDB oracle (no SQL zlib) — rows-only query + pytest goldens.
    """
    name = J.session_udf(
        df.sparkSession, "llm_tab_cleaner_deflated_length", repr(level).encode(),
        J.SIGNATURES_CLASS, "registerDeflatedLength", level,
    )
    lengths = df.select(
        id_col,
        F.coalesce(F.octet_length(text_col), F.lit(0)).cast("bigint").alias("n_bytes"),
        F.call_function(name, F.encode(F.col(text_col), "UTF-8")).alias("n_bytes_compressed"),
    )
    ratio = F.round(
        F.when(
            F.col("n_bytes") > 0, F.col("n_bytes_compressed").cast("double") / F.col("n_bytes")
        ).otherwise(F.lit(0.0)),
        4,
    ).cast("double")
    return lengths.select(
        id_col,
        "n_bytes",
        "n_bytes_compressed",
        ratio.alias("compress_ratio"),
        ((ratio >= min_ratio) & (ratio <= max_ratio)).alias("compress_keep"),
    )


#: Unicode script blocks the mix detector counts, as (name, lo, hi) BMP
#: ranges. Literal range endpoints are embedded in the character class via
#: chr() — Java, RE2 and Python treat literal chars in classes identically,
#: so no engine-specific \u escaping is needed (same tri-dialect contract
#: as the rest of this module). Deliberately coarse: one headline block per
#: script, not full Unicode script properties (\p{Script=} differs across
#: engines).
SCRIPT_BLOCKS: tuple[tuple[str, int, int], ...] = (
    ("latin", 0x0041, 0x007A),       # A-Z a-z (punct/digits excluded below)
    ("cyrillic", 0x0400, 0x04FF),
    ("greek", 0x0370, 0x03FF),
    ("arabic", 0x0600, 0x06FF),
    ("hebrew", 0x0590, 0x05FF),
    ("devanagari", 0x0900, 0x097F),
    ("cjk", 0x4E00, 0x9FFF),
    ("hangul", 0xAC00, 0xD7AF),
    ("hiragana_katakana", 0x3040, 0x30FF),
)


def script_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document script mix: a count column per SCRIPT_BLOCKS entry
    (``n_<name>``), the dominant script (count-desc, name-asc tie-break),
    and its share of all script-letter chars (rounded 4; main 'none' and
    share 0.0 for docs with no script letters). The mixed-script spam /
    wrong-corpus-routing signal a multilingual web pipeline computes
    before language-ID.

    Latin counts only A-Za-z — ASCII digits/punctuation belong to no
    script, so pure-symbol docs correctly report 'none'. Pure per-row
    projection: one regexp_replace length-delta scan per block."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    counts = {
        name: (
            n
            - F.length(
                F.regexp_replace(
                    t,
                    # latin = the two ASCII letter ranges (0x5B-0x60 are
                    # punctuation, not script letters)
                    "[A-Za-z]"
                    if name == "latin"
                    else "[" + chr(lo) + "-" + chr(hi) + "]",
                    "",
                )
            )
        ).cast("bigint")
        for name, lo, hi in SCRIPT_BLOCKS
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    # dominant script via greatest over (count, rank, name) structs; the
    # rank field makes ties resolve to the alphabetically FIRST name
    # (struct comparison is field-order lexicographic), deterministic on
    # both engines
    names_sorted = sorted(counts)
    rank = {nm: len(names_sorted) - i for i, nm in enumerate(names_sorted)}
    main = F.greatest(
        *[
            F.struct(
                counts[nm].alias("c"),
                F.lit(rank[nm]).alias("r"),
                F.lit(nm).alias("name"),
            )
            for nm in names_sorted
        ]
    )
    share = F.round(
        F.when(total > 0, main["c"].cast("double") / total).otherwise(F.lit(0.0)), 4
    ).cast("double")
    return df.select(
        id_col,
        *[counts[nm].alias(f"n_{nm}") for nm in names_sorted],
        F.when(total > 0, main["name"]).otherwise(F.lit("none")).alias("main_script"),
        share.alias("main_script_share"),
    )

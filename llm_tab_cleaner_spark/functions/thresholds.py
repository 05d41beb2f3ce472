"""Single source of truth for every decision threshold.

Both the engine rules (operators/quality_filter.py) and the fixture
generator (fixtures/code_files.py) import these, so keep/drop golden labels
and engine decisions agree by construction — mirroring how the reference's
``create_default_rules`` (/root/reference/src/llm_tab_cleaner/cleaning_rule.py:178-314)
is both the library and the test oracle.
"""

from __future__ import annotations

# The confidence gate: apply/drop only when confidence >= threshold
# (reference: core.py:374-377, spark.py:321).
CONF_THRESHOLD = 0.8

# Null-indicator tokens (reference: core.py:556-559 + cleaning_rule.py:182-202).
# A file is null-ish when its whole content, with ASCII whitespace (the Java
# \s set) stripped from both ends and ASCII letters lower-cased, equals one
# of these. Only A-Z fold: a non-ASCII letter never matches, so fullwidth
# "ＮＵＬＬ" and "unKnown" (U+212A KELVIN SIGN, which Unicode lower-cases
# to "k") are not null-ish, however much whitespace surrounds them.
NULLISH_TOKENS = (
    "n/a", "na", "null", "none", "missing", "", "unknown", "tbd", "tba", "todo", "nil",
)

# The scorer's langid, perplexity and token/alnum stats read at most this
# many leading characters of a file (is_nullish reads the whole file).
# Statistical scores settle within the first tens of KB, so the cap bounds
# scorer work per megabyte file; rules, scrub and hashes see full content.
SCORE_PREFIX_CHARS = 65536

# Minified / single-long-line detection (reference analog:
# profiler.py:346-359 length outliers; multimodal_cleaning.py:156-160).
MAX_LINE_LEN = 1000

# Binary-ish junk, structure-aware variant actually used by the drop rule:
# alphanumeric chars / non-whitespace chars. Punctuation-heavy but legitimate
# formats (JSON, minified JS) still have letter-dominated tokens and land
# well above 0.45; random symbol junk lands ~0.15.
ALNUM_RATIO_MIN = 0.45

# Excessive repetition: distinct-token ratio (multimodal_cleaning.py:169-172).
# The ratio alone is length-biased (Heaps' law: big real files naturally have
# low type/token ratios), so the rule also requires the absolute vocabulary
# to be tiny — pathological repetition cycles a handful of tokens regardless
# of file size.
UNIQUE_TOKEN_RATIO_MIN = 0.20
REPETITION_MIN_TOKENS = 20
REPETITION_MAX_DISTINCT = 256

# Gopher-style duplicate-line gate (Rae et al. 2021 A1.1, public): drop a
# document when more than this fraction of its non-blank lines are
# duplicates. Opt-in pipeline stage (PipelineConfig.dup_line_frac_max);
# 0.30 is the published Gopher operating point.
DUP_LINE_FRAC_MAX = 0.30

# Gopher quality rules (Rae et al. 2021 appendix A1.1, public) — the
# published operating points. Consumed by functions/webquality.py and its
# DuckDB oracle twin; keep both aligned when changing any of these.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_SYMBOL_WORD_RATIO_MAX = 0.1
GOPHER_BULLET_LINE_FRAC_MAX = 0.9
GOPHER_ELLIPSIS_LINE_FRAC_MAX = 0.3
GOPHER_ALPHA_WORD_FRAC_MIN = 0.8
GOPHER_MIN_STOPWORD_HITS = 2
# Gopher's 8-word "stop word" presence list (NOT the langid stopword set in
# operators/text_analysis.py — Gopher's rule counts how many DISTINCT words
# of this exact list appear at least once).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# C4 cleaning heuristics (Raffel et al. 2020 §2.2, public).
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_SENTENCES = 3
# lowercase substrings that drop a LINE (the paper's citation/boilerplate
# and javascript-line filters)
C4_LINE_DROP_PHRASES = (
    "javascript", "cookie policy", "privacy policy", "terms of use",
    "uses cookies",
)

# The Stack / SantaCoder code-quality filters (Kocetkov et al. 2022,
# Allal et al. 2023 — public operating points).
STACK_MEAN_LINE_LEN_MAX = 100.0
STACK_ALNUM_FRAC_MIN = 0.25
# fraction of characters sitting inside long base64/hex-ish runs above which
# a file is data, not code
STACK_ENCODED_FRAC_MAX = 0.50
# minimum run lengths that count as embedded encoded data
STACK_BASE64_RUN_MIN = 64
STACK_HEX_RUN_MIN = 16

# Short-content rule: confidence = SHORT_BASE - SHORT_SLOPE * n_tokens for
# n_tokens < SHORT_TOKENS_MAX. Crosses CONF_THRESHOLD at exactly 10 tokens —
# this is the borderline class that exercises the confidence gate.
SHORT_TOKENS_MAX = 15
SHORT_BASE = 0.90
SHORT_SLOPE = 0.01

# Language-ID: flag a mismatch only when the model is confident. Calibrated
# on the fixture: normal-class margins ≥1.55 (and always agree with `lang`),
# wrong-lang margins ≥1.71, noise classes ≤0.9 → 1.2 splits cleanly.
LANGID_MIN_MARGIN = 1.2  # log-prob margin per trigram between top-1 and top-2

# Rule confidences (drop rules; max-confidence-wins per cleaning_rule.py:148-175).
CONF_NULLISH = 0.95
CONF_MINIFIED = 0.90
CONF_LOW_ALNUM = 0.93
CONF_AUTOGEN = 0.92
CONF_REPETITION = 0.85
CONF_LANG_MISMATCH = 0.82
CONF_HIGH_PPL = 0.88

# Keep-side confidence floor/ceiling (normal files score >= KEEP_CONF_FLOOR).
KEEP_CONF_FLOOR = 0.85
KEEP_CONF_CEIL = 0.99

# Auto-generated / boilerplate markers (reference analog: pattern rules
# cleaning_rule.py:62-76). Kept regex-dialect-portable (Java / RE2 / Python).
AUTOGEN_PATTERNS = (
    "DO NOT EDIT",
    "Code generated by",
    "@generated",
    "Autogenerated by",
    "generated by protoc",
    "swagger-codegen",
    "This file was automatically generated",
    "# -\\*- DO NOT MODIFY -\\*-",
    "\"lockfileVersion\"",
    "# This file is auto-generated",
)

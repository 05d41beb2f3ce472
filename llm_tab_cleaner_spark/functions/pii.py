"""PII / secret / toxicity scrubbing: one rule table, applied in order.

On Spark it is one Java UDF (``jvm/Scrub.java``); ``scrub_python`` (fixture
goldens) and ``scrub_sql`` (DuckDB oracles) mirror it in Python ``re`` and
RE2. Patterns keep to the common subset (no backrefs, no lookbehind).

The three agree on ASCII text only (``_WS`` spells out Java's ``\\s``:
Python's adds \\x1c-\\x1f, RE2's lacks \\x0b). Python ``re`` scrubs
non-ASCII text Java leaves alone: its ``\\d`` takes Arabic-Indic digits
(<SSN>, <IP_ADDRESS>) and its ``(?i)`` folds U+017F to ``s`` and U+212A to
``k`` (``ſecret=…``, ``api_Key=…``, ``baſtard``). ``re.ASCII`` does not
close the gap; it moves it to ``\\b`` next to letters like ``é``, which
Java 17's ``\\b`` counts as word characters. RE2 folds case like Python and
its ``\\b`` is ASCII-only (``é123-45-6789`` is an SSN to DuckDB only).

Reference parity: email/SSN/credit-card patterns mirror
/root/reference/src/llm_tab_cleaner/advanced_security.py:56-88 (detection)
and :277-307 (masking); secret-keyword family mirrors security.py:25-28.
Replacement policy differs deliberately: fixed tokens (<EMAIL>, <SSN>, ...)
instead of format-preserving masks — deterministic, byte-stable, and safe
for training-data pipelines. ``tokenize_expr`` stays for SURVEY T19.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from llm_tab_cleaner_spark import jvm as J

# Toxicity lexicon (configurable; deliberately small + mild defaults).
TOXIC_LEXICON: tuple[str, ...] = ("bastard", "dumbass", "shithead", "asshole")

_WS = r"[ \t\n\x0B\f\r]"

# (name, pattern, replacement, gates). Gates are lower-case literals, one of
# which the lower-cased text holds whenever the pattern matches; the kernel
# searches a family only then. None: no literal anchor, always searched.
SCRUB_TABLE: tuple[tuple[str, str, str, tuple[str, ...] | None], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>", ("@",)),
    ("aws_key", r"\bAKIA[0-9A-Z]{16}\b", "<API_KEY>", ("akia",)),
    (
        "secret_assignment",
        r"(?i)(?:api[_-]?key|apikey|secret|token|password|passwd)"
        + _WS + r"*[:=]" + _WS + r"*[\"']?[A-Za-z0-9_\-/+]{8,}[\"']?",
        "<API_KEY>",
        ("key", "secret", "token", "passw"),
    ),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>", None),
    ("credit_card", r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b", "<CREDIT_CARD>", None),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP_ADDRESS>", None),
    ("toxic", r"(?i)\b(?:" + "|".join(TOXIC_LEXICON) + r")\b", "<TOXIC>", TOXIC_LEXICON),
)

EMAIL_PATTERN = SCRUB_TABLE[0][1]  # shared by profiler.email_domains + oracles

_COMPILED = [(re.compile(pat), repl) for _name, pat, repl, _gates in SCRUB_TABLE]


def scrub_kernel(col: Column, spark: SparkSession | None = None) -> Column:
    """The Java scrub's struct of ``col``: ``scrubbed`` (NULL for NULL),
    ``content_clean`` (NULL when nothing matched) and ``scrub_rules`` (per
    family its name if it matched the original text, else null; empty when
    nothing matched). Registered nondeterministic in ``spark`` (default: the
    active session), so Catalyst never inlines it into a filter."""
    names, patterns, replacements, gates = zip(*SCRUB_TABLE)
    name = J.session_udf(
        spark or SparkSession.active(), "llm_tab_cleaner_scrub", repr(SCRUB_TABLE).encode(),
        J.SCRUB_CLASS, "register",
        "scrubbed boolean, content_clean string, scrub_rules array<string>",
        list(names), list(patterns), list(replacements),
        [None if g is None else list(g) for g in gates],
    )
    return F.call_function(name, col)


def scrub_expr(col: Column) -> Column:
    """``col`` with every scrub rule applied in order."""
    return F.coalesce(scrub_kernel(col).getField("content_clean"), col)


def any_pii_detect_expr(col: Column) -> Column:
    """Whether any scrub family matches ``col`` (NULL for NULL)."""
    return scrub_kernel(col).getField("scrubbed")


def scrub_python(text: str) -> str:
    """Python mirror of ``scrub_expr``, byte-exact on ASCII text."""
    out = text
    for rx, repl in _COMPILED:
        out = rx.sub(repl, out)
    return out


def tokenize_expr(col: Column, prefix: str = "TOKEN_") -> Column:
    """Deterministic tokenization (advanced_security.py:171-221): value →
    TOKEN_<sha256[:16]>. Reversal is a broadcast lookup against the token
    table the caller persists."""
    return F.concat(F.lit(prefix), F.substring(F.sha2(col, 256), 1, 16))


def scrub_sql(col_name: str) -> str:
    """DuckDB-SQL mirror (RE2 dialect) for oracle queries."""
    expr = col_name
    for _name, pat, repl, _gates in SCRUB_TABLE:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return expr

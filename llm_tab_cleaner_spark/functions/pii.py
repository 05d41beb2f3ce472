"""PII / secret / toxicity scrubbing — compiled-regex, fully native.

Spark side is a chain of ``regexp_replace`` Column expressions (whole-stage
codegen, zero Python); ``scrub_python`` is the byte-exact mirror used by the
fixture generator to produce golden scrubbed text. Patterns are kept in the
common dialect subset of Java regex / Python re / RE2 (no backrefs, no
lookbehind) so the same strings also work in DuckDB oracle SQL.

Reference parity: email/SSN/credit-card patterns mirror
/root/reference/src/llm_tab_cleaner/advanced_security.py:56-88 (detection)
and :277-307 (masking); secret-keyword family mirrors security.py:25-28.
Replacement policy differs deliberately: fixed tokens (<EMAIL>, <SSN>, ...)
instead of format-preserving masks — deterministic, byte-stable, and safe
for training-data pipelines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (name, pattern, replacement) applied strictly in this order.
SCRUB_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("aws_key", r"\bAKIA[0-9A-Z]{16}\b", "<API_KEY>"),
    (
        "secret_assignment",
        r"(?i)(?:api[_-]?key|apikey|secret|token|password|passwd)\s*[:=]\s*[\"']?[A-Za-z0-9_\-/+]{8,}[\"']?",
        "<API_KEY>",
    ),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("credit_card", r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b", "<CREDIT_CARD>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP_ADDRESS>"),
)

# Toxicity lexicon (configurable; deliberately small + mild defaults).
TOXIC_LEXICON: tuple[str, ...] = ("bastard", "dumbass", "shithead", "asshole")
_TOXIC_PATTERN = r"(?i)\b(?:" + "|".join(TOXIC_LEXICON) + r")\b"
TOXIC_RULE = ("toxic", _TOXIC_PATTERN, "<TOXIC>")

ALL_RULES: tuple[tuple[str, str, str], ...] = SCRUB_RULES + (TOXIC_RULE,)

EMAIL_PATTERN = SCRUB_RULES[0][1]  # shared by profiler.email_domains + oracles

_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in ALL_RULES]


def scrub_expr(col: Column) -> Column:
    """Chained regexp_replace applying every scrub rule in order."""
    out = col
    for _name, pat, repl in ALL_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def any_pii_detect_expr(col: Column) -> Column:
    """Gated any-PII detection for the hot path: each expensive family regex
    runs behind a cheap necessary-condition scan (substring containment),
    short-circuited per row. Identity-equal to ``any_pii_expr`` — a gate is
    a NECESSARY condition for its family's pattern: email needs '@', an AWS
    key needs 'AKIA', the (?i) secret pattern needs one of
    key/secret/token/passw in the lowercased text (apikey/api_key → 'key',
    password/passwd → 'passw'), and the (?i) toxic pattern needs one of its
    lexicon words lowercased. Round-2 measured the email/AKIA gates (72 MB
    leg ~19 → ~10 CPU-s); round-4 measured the lower()-contains gates for
    the secret/toxic families (detection scan 5.92 → 4.90 CPU-s/50k files,
    best of 3 interleaved pairs, identical match sets). The digit families
    (ssn/cc/ipv4) have no literal anchor — a digit gate is near-universal
    in code and was not worth a scan (ROADMAP round-3 note)."""
    by_name = {name: pat for name, pat, _repl in ALL_RULES}
    lc = F.lower(col)
    secret_gate = (
        lc.contains("key") | lc.contains("secret")
        | lc.contains("token") | lc.contains("passw")
    )
    toxic_gate: Column | None = None
    for w in TOXIC_LEXICON:
        t = lc.contains(w)
        toxic_gate = t if toxic_gate is None else (toxic_gate | t)
    return (
        (col.contains("@") & col.rlike(by_name["email"]))
        | (col.contains("AKIA") & col.rlike(by_name["aws_key"]))
        | (secret_gate & col.rlike(by_name["secret_assignment"]))
        | col.rlike(by_name["ssn"])
        | col.rlike(by_name["credit_card"])
        | col.rlike(by_name["ipv4"])
        | (toxic_gate & col.rlike(by_name["toxic"]))
    )


def any_pii_expr(col: Column) -> Column:
    combined = "|".join(f"(?:{pat})" for _n, pat, _r in ALL_RULES)
    return col.rlike(combined)


def scrub_python(text: str) -> str:
    """Byte-exact Python mirror of ``scrub_expr`` (fixture golden path)."""
    out = text
    for _name, rx, repl in _COMPILED:
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
    for _name, pat, repl in ALL_RULES:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return expr

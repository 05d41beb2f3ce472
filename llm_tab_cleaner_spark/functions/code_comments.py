"""Comment stripping / comment-ratio for code corpora — fully native.

Beyond the reference's inventory (SURVEY §2.9): pretraining pipelines
routinely strip comments from code (dedup against comment-only edits,
comment-free training variants) and use the comment ratio as a quality
feature (all-comment files are prose, zero-comment generated code is
boilerplate). The transform is a chain of ``regexp_replace`` in the common
Java/RE2/Python dialect (no flags: ``[^\\n]`` for to-end-of-line,
``[\\s\\S]*?`` for non-greedy across lines) so the DuckDB oracle and the
fixture side replay it byte-for-byte.

HEURISTIC, by design: a regex cannot know that ``"// not a comment"`` is
inside a string literal — the same approximation every large-corpus
comment stripper makes. Marker sets are chosen per language family from
the ``lang`` column when present.

Scale shape: pure per-row projection (regexp passes over the row), no
shuffle, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: dialect-common patterns (applied in this order: block first, so a
#: ``/* ... // ... */`` body can't leave a dangling line marker)
BLOCK_COMMENT = r"/\*[\s\S]*?\*/"
LINE_COMMENT_SLASH = r"//[^\n]*"
LINE_COMMENT_HASH = r"#[^\n]*"

#: language → ordered marker patterns. Unknown/absent languages get the
#: full set (safe for ratio features; documented over-strip for e.g.
#: Python strings containing '//').
LANG_COMMENT_PATTERNS: dict[str, tuple[str, ...]] = {
    "python": (LINE_COMMENT_HASH,),
    "shell": (LINE_COMMENT_HASH,),
    "c": (BLOCK_COMMENT, LINE_COMMENT_SLASH),
    "java": (BLOCK_COMMENT, LINE_COMMENT_SLASH),
    "javascript": (BLOCK_COMMENT, LINE_COMMENT_SLASH),
    "go": (BLOCK_COMMENT, LINE_COMMENT_SLASH),
    "markdown": (),
    "json": (),
}

_ALL_PATTERNS = (BLOCK_COMMENT, LINE_COMMENT_SLASH, LINE_COMMENT_HASH)


def _strip(col: Column, patterns: tuple[str, ...]) -> Column:
    out = col
    for pat in patterns:
        out = F.regexp_replace(out, pat, "")
    return out


def strip_comments_expr(col: Column, lang: Column | None = None) -> Column:
    """Content with comments removed. With a ``lang`` column, markers are
    language-scoped (a when-chain over LANG_COMMENT_PATTERNS); without one,
    all marker families apply."""
    if lang is None:
        return _strip(col, _ALL_PATTERNS)
    expr: Column | None = None
    for language, patterns in LANG_COMMENT_PATTERNS.items():
        stripped = _strip(col, patterns) if patterns else col
        cond = lang == language
        expr = F.when(cond, stripped) if expr is None else expr.when(cond, stripped)
    return expr.otherwise(_strip(col, _ALL_PATTERNS))


def comment_ratio_expr(col: Column, lang: Column | None = None) -> Column:
    """Fraction of characters removed by comment stripping, in [0, 1]."""
    total = F.length(col)
    kept = F.length(strip_comments_expr(col, lang))
    return F.when(total > 0, (total - kept) / total).otherwise(F.lit(0.0))


def strip_comments_sql(expr: str, lang: str | None = None) -> str:
    """DuckDB twin of strip_comments_expr over the SQL expression ``expr``
    for ONE language (or the no-lang all-patterns path) — generated from the
    SAME pattern table so oracle and engine can never silently diverge."""
    patterns = (
        LANG_COMMENT_PATTERNS.get(lang, _ALL_PATTERNS)
        if lang is not None
        else _ALL_PATTERNS
    )
    out = expr
    for pat in patterns:
        # standard-SQL single-quoted literals: backslashes pass through
        # verbatim (no doubling), only quotes would need escaping — and the
        # pattern table contains none
        out = f"regexp_replace({out}, '{pat}', '', 'g')"
    return out


def comments_python(text: str, lang: str | None = None) -> str:
    """Byte-exact Python mirror of strip_comments_expr (fixture/oracle
    cross-check path)."""
    import re

    patterns = (
        LANG_COMMENT_PATTERNS.get(lang, _ALL_PATTERNS)
        if lang is not None
        else _ALL_PATTERNS
    )
    out = text
    for pat in patterns:
        out = re.sub(pat, "", out)
    return out

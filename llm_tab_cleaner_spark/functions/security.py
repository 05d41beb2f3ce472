"""Security predicates & guards — SURVEY.md §2.2 P10/P11/P14.

Mirrors /root/reference/src/llm_tab_cleaner/security.py:25-28,72-92,125-175
and validation.py:27-47: sensitive-column detection is a driver-side schema
check (metadata, no data scan); malicious-content predicates are native
rlike Columns evaluated over a bounded sample; size guards read cheap
metadata/statistics, never full scans.

No pipeline stage or entry query calls the four helpers; they stay because
SURVEY rows P10, P11 and P14 name them.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SENSITIVE_NAME_PATTERNS = (
    r"ssn", r"social.*security", r"credit.*card", r"password", r"secret",
    r"api.*key", r"token", r"private.*key", r"auth",
)

SQL_INJECTION_PATTERNS = (
    r"(?i)\bunion\s+select\b",
    r"(?i)\bdrop\s+table\b",
    r"(?i);\s*delete\s+from\b",
    r"(?i)\bor\s+1\s*=\s*1\b",
    r"(?i)'\s*or\s*'1'\s*=\s*'1",
)

XSS_PATTERNS = (
    r"(?i)<script[\s>]",
    r"(?i)javascript:",
    r"(?i)\bon(?:error|load|click)\s*=",
)


def sensitive_columns(df: DataFrame) -> list[str]:
    """Column NAMES matching the sensitive registry (security.py:145-156) —
    pure schema metadata, zero data movement."""
    out = []
    for name in df.columns:
        if any(re.search(p, name, re.IGNORECASE) for p in SENSITIVE_NAME_PATTERNS):
            out.append(name)
    return out


def malicious_content_expr(col: Column) -> Column:
    """SQLi/XSS predicate (security.py:158-175, validation.py:27-47) as ONE
    combined regex scan."""
    combined = "|".join(f"(?:{p})" for p in SQL_INJECTION_PATTERNS + XSS_PATTERNS)
    return col.rlike(combined)


def sample_malicious_scan(df: DataFrame, columns: list[str] | None = None, limit: int = 1000) -> dict[str, int]:
    """Scan a bounded sample for malicious content per string column
    (reference samples too — security.py:161). Returns column → hit count."""
    str_cols = [
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    ]
    columns = [c for c in (columns or str_cols) if c in str_cols]
    if not columns:
        return {}
    sample = df.limit(limit)
    row = sample.agg(
        *[
            F.sum(malicious_content_expr(F.col(c)).cast("long")).alias(c)
            for c in columns
        ]
    ).collect()[0]
    return {c: int(row[c] or 0) for c in columns}


def enforce_size_guards(
    df: DataFrame,
    max_rows: int | None = None,
    max_columns: int | None = None,
) -> None:
    """Row/column guards (security.py:72-92). Column check is free; the row
    check uses count() — on Iceberg/parquet Catalyst serves it from
    statistics/footers, not a full scan."""
    if max_columns is not None and len(df.columns) > max_columns:
        raise ValueError(f"too many columns: {len(df.columns)} > {max_columns}")
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(f"too many rows: {n} > {max_rows}")


def sanitize_column_names(df: DataFrame, max_len: int = 50) -> DataFrame:
    """Column-name sanitization (security.py:125-143): strip disallowed
    chars, prefix non-alpha starts, truncate — driver-side renames only."""
    out = df
    seen: set[str] = set()
    for name in df.columns:
        clean = re.sub(r"[^\w\-.]", "_", name)[:max_len]
        if not re.match(r"[A-Za-z_]", clean):
            clean = f"c_{clean}"
        base = clean
        i = 1
        while clean in seen:
            clean = f"{base}_{i}"
            i += 1
        seen.add(clean)
        if clean != name:
            out = out.withColumnRenamed(name, clean)
    return out

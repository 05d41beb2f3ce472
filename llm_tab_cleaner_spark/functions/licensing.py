"""License detection / classification for source-code corpora — fully native.

Beyond the reference's inventory (SURVEY §2.9): a training-data pipeline
over code files must route files by license before anything else — copyleft
and no-license files are routinely excluded from permissively-licensed
training sets, and the SPDX tag, when present, is the authoritative signal.
The reference (a tabular cleaner) has no counterpart; the closest analog is
its pattern-rule machinery (cleaning_rule.py:62-76), re-used here as native
short-circuit ``contains`` chains over a bounded header prefix.

Scale shape: license text lives in file HEADERS, so every expression scans
only the first ``scan_chars`` characters (``substring`` — one bounded pass,
whole-stage codegen, no regex except the single anchored SPDX extract).
At 100 TB that bounds the license pass to ~2 KB/file regardless of file
size, and the classification is a pure per-row projection — no shuffle.

Marker lists are deliberately literal (contains(), not regex) and live in
one place so the DuckDB oracle and tests replay them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: characters of header scanned for license markers (licenses are headers;
#: 2 KiB covers every standard header incl. Apache-2.0's reference block)
LICENSE_SCAN_CHARS = 2048

#: marker → class tables. Literal substrings (case-sensitive, as published
#: by SPDX/OSI boilerplate) checked with contains() — no regex engine.
COPYLEFT_MARKERS: tuple[str, ...] = (
    "GNU General Public License",
    "GNU Lesser General Public License",
    "GNU Affero General Public License",
    "Mozilla Public License",
    "SPDX-License-Identifier: GPL",
    "SPDX-License-Identifier: LGPL",
    "SPDX-License-Identifier: AGPL",
    "SPDX-License-Identifier: MPL",
)

PERMISSIVE_MARKERS: tuple[str, ...] = (
    "MIT License",
    "Apache License",
    "BSD 2-Clause",
    "BSD 3-Clause",
    "ISC License",
    "Permission is hereby granted, free of charge",
    "SPDX-License-Identifier: MIT",
    "SPDX-License-Identifier: Apache",
    "SPDX-License-Identifier: BSD",
    "SPDX-License-Identifier: ISC",
    "SPDX-License-Identifier: Unlicense",
)

RESTRICTED_MARKERS: tuple[str, ...] = (
    "All rights reserved.",
    "Proprietary and confidential",
    "CONFIDENTIAL",
)

#: classification precedence: a header quoting both GPL and MIT text is
#: copyleft-contaminated, so copyleft wins; an "All rights reserved." line
#: inside a BSD header is part of the BSD boilerplate, so permissive
#: outranks restricted.
LICENSE_CLASSES = ("copyleft", "permissive", "restricted", "none")

#: SPDX tag extract — the one regex (anchored literal prefix, RE2/Java/
#: Python-common dialect for the oracle)
SPDX_PATTERN = r"SPDX-License-Identifier:\s*([A-Za-z0-9.+\-]+)"


def _contains_any(col: Column, markers: tuple[str, ...]) -> Column:
    pred: Column | None = None
    for m in markers:
        term = col.contains(m)
        pred = term if pred is None else (pred | term)
    return pred


def license_class_expr(col: Column, scan_chars: int = LICENSE_SCAN_CHARS) -> Column:
    """'copyleft' | 'permissive' | 'restricted' | 'none' from the header
    prefix (precedence above). One bounded substring + contains chains."""
    head = F.substring(col, 1, scan_chars)
    return (
        F.when(_contains_any(head, COPYLEFT_MARKERS), F.lit("copyleft"))
        .when(_contains_any(head, PERMISSIVE_MARKERS), F.lit("permissive"))
        .when(_contains_any(head, RESTRICTED_MARKERS), F.lit("restricted"))
        .otherwise(F.lit("none"))
    )


def spdx_expr(col: Column, scan_chars: int = LICENSE_SCAN_CHARS) -> Column:
    """The SPDX identifier from the header, NULL when absent."""
    tag = F.regexp_extract(F.substring(col, 1, scan_chars), SPDX_PATTERN, 1)
    return F.when(tag != "", tag)


def with_license(
    df: DataFrame, content_col: str = "content", scan_chars: int = LICENSE_SCAN_CHARS
) -> DataFrame:
    """df + license_class + spdx_id columns (pure projection, no shuffle)."""
    c = F.col(content_col)
    return df.withColumn(
        "license_class", license_class_expr(c, scan_chars)
    ).withColumn("spdx_id", spdx_expr(c, scan_chars))


def license_class_sql(expr: str, scan_chars: int = LICENSE_SCAN_CHARS) -> str:
    """DuckDB twin of license_class_expr over the SQL expression ``expr`` —
    generated from the SAME marker tables so oracle and engine can never
    silently diverge (CLAUDE.md one-place rule)."""
    head = f"substr({expr}, 1, {scan_chars})"

    def chain(markers: tuple[str, ...]) -> str:
        return " OR ".join(f"contains({head}, '{m}')" for m in markers)

    return (
        f"CASE WHEN {chain(COPYLEFT_MARKERS)} THEN 'copyleft' "
        f"WHEN {chain(PERMISSIVE_MARKERS)} THEN 'permissive' "
        f"WHEN {chain(RESTRICTED_MARKERS)} THEN 'restricted' "
        f"ELSE 'none' END"
    )


def spdx_sql(expr: str, scan_chars: int = LICENSE_SCAN_CHARS) -> str:
    """DuckDB twin of spdx_expr (same anchored pattern, NULL when absent)."""
    tag = (
        f"regexp_extract(substr({expr}, 1, {scan_chars}), "
        f"'{SPDX_PATTERN}', 1)"
    )
    return f"nullif({tag}, '')"


def license_counts(df: DataFrame, content_col: str = "content") -> DataFrame:
    """(license_class, spdx_id, n_files) rollup — one partial-aggregated
    groupBy over the projected class/tag columns."""
    return (
        with_license(df, content_col)
        .groupBy("license_class", "spdx_id")
        .agg(F.count(F.lit(1)).alias("n_files"))
    )

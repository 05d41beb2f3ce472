"""License detection (X21): class precedence, SPDX extraction and
header-prefix bounding. The allow-list gate is ``CleanPipeline.prepare``'s
(tests/test_pipeline_corpus.py)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.functions.licensing import (
    LICENSE_SCAN_CHARS,
    license_class_expr,
    spdx_expr,
    with_license,
)


CASES = [
    ("// SPDX-License-Identifier: MIT\ncode", "permissive", "MIT"),
    ("Licensed under the Apache License, Version 2.0", "permissive", None),
    ("MIT License\n\nPermission is hereby granted, free of charge", "permissive", None),
    ("This program is free software: GNU General Public License", "copyleft", None),
    ("# SPDX-License-Identifier: GPL-3.0-only", "copyleft", "GPL-3.0-only"),
    ("/* SPDX-License-Identifier: Apache-2.0 */", "permissive", "Apache-2.0"),
    # precedence: copyleft text outranks permissive text in the same header
    ("MIT License\nparts under GNU General Public License", "copyleft", None),
    # permissive boilerplate containing "All rights reserved." stays permissive
    ("BSD 3-Clause\nCopyright (c) X. All rights reserved.", "permissive", None),
    ("Copyright Acme. All rights reserved.", "restricted", None),
    ("def f():\n    return 1\n", "none", None),
    ("", "none", None),
    (None, "none", None),
    # marker beyond the scan prefix is invisible
    ("x" * (LICENSE_SCAN_CHARS + 10) + "\nMIT License", "none", None),
]


def test_license_class_and_spdx(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"content": [c for c, _cls, _tag in CASES]}), "content string"
    )
    got = with_license(df).select("content", "license_class", "spdx_id").collect()
    for (content, cls, tag), row in zip(CASES, got):
        assert row.license_class == cls, (content or "")[:60]
        assert row.spdx_id == tag, (content or "")[:60]


def test_license_exprs_stay_in_codegen(spark, tmp_path):
    """The classification is contains-chains over a bounded substring — it
    must not de-codegen the projection (no lambda HOFs, no regex except the
    single SPDX extract)."""
    import re

    from llm_tab_cleaner_spark.fixtures.code_files import write_fixture

    cf_path, _ = write_fixture(str(tmp_path / "fx"), 200)
    df = spark.read.parquet(cf_path).select(
        license_class_expr(F.col("content")).alias("license_class"),
        spdx_expr(F.col("content")).alias("spdx_id"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
    assert re.search(r"\*\(\d+\) Project", plan), plan[:1500]

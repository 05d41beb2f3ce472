"""Scoring-prefix cap: huge files are scored on a bounded prefix
(thresholds.SCORE_PREFIX_CHARS) while the rules/scrub/sha paths still see
full content."""

from __future__ import annotations

import hashlib

import pandas as pd

from llm_tab_cleaner_spark.functions import thresholds as TH


def test_huge_file_scored_on_prefix_but_scrubbed_fully(spark):
    from llm_tab_cleaner_spark import CleanPipeline

    # realistic varied body: many template instantiations (low perplexity,
    # healthy token diversity), ~300 KB total
    from llm_tab_cleaner_spark.functions.corpus import IDENTIFIERS, PY_TEMPLATES, fill_template

    parts = [
        f"# section {i}: handler_{i} for stage_{i}\n"
        + fill_template(PY_TEMPLATES[i % len(PY_TEMPLATES)],
                        [IDENTIFIERS[(i + k) % len(IDENTIFIERS)] for k in range(4)])
        for i in range(300)
    ]
    tail_pii = "\n# contact: deep@tail.com at 10.9.8.7\n"
    huge = "\n".join(parts) + tail_pii  # PII beyond any reasonable scoring prefix
    assert len(huge) > 3 * TH.SCORE_PREFIX_CHARS
    pdf = pd.DataFrame(
        {
            "repo": ["r"], "path": ["big.py"], "commit": ["c" * 40],
            "lang": ["python"], "content": [huge],
        }
    )
    result, _ = CleanPipeline(spark).run(spark.createDataFrame(pdf))
    row = result.select("keep", "lang_pred", "content_clean", "clean_sha256").collect()[0]
    assert row["keep"] and row["lang_pred"] == "python"
    # scrub operated on the FULL text, beyond the scoring prefix
    assert "<EMAIL>" in row["content_clean"] and "<IP_ADDRESS>" in row["content_clean"]
    assert "deep@tail.com" not in row["content_clean"]
    expected = huge.replace("deep@tail.com", "<EMAIL>").replace("10.9.8.7", "<IP_ADDRESS>")
    assert row["clean_sha256"] == hashlib.sha256(expected.encode()).hexdigest()

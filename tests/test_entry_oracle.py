"""Driver-contract smoke inside pytest: entry() runs, and a representative
subset of queries() matches oracle_sql() via DuckDB at sf0.001 (the full
matrix runs via tools/parity_check.py)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"
SUBSET = [
    "pricing_summary", "region_revenue", "native_rules_docs", "scrub_parity",
    "cosine_topk", "embedding_near_dup", "doc_stats", "rules_tabular",
    "lsh_topk", "ivf_assign", "keyword_langid", "dataset_splits",
    "learned_patterns", "learned_fuzzy", "license_stats", "comment_stats",
    "dsir_select", "dedup_clusters",
    "winnow_pairs", "import_stats", "corpus_select_pack", "quality_buckets",
    "gopher_quality", "c4_clean", "stack_stats", "url_domains", "domain_mix",
    "oov_rate", "near_dup_keep", "skew_report", "domain_cap_docs",
    "encoding_stats", "unigram_entropy", "script_stats",
]


def test_entry_returns_rows(spark):
    import __spark_entry__ as entry

    df = entry.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"doc_id", "keep", "confidence"} <= set(df.columns)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, name):
    import __spark_entry__ as entry
    from tools.parity_check import compare, duck_conn

    sdf = entry.queries()[name](spark, SF).toPandas()
    con = duck_conn(SF)
    odf = con.execute(entry.oracle_sql()[name]).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, problems


def test_every_query_has_callable_and_most_have_oracles(spark):
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert len(qs) >= 25
    missing = set(oracles) - set(qs)
    assert not missing  # every oracle key must have a query
    # UDF/model-backed ops are the only ones allowed to skip the oracle
    no_oracle = set(qs) - set(oracles)
    assert no_oracle <= {
        "minhash_pairs", "simhash_pairs", "quality_filter_docs",
        "compress_stats",  # zlib codec — no SQL twin exists
    }

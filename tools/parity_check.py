"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet dir, then compares
row-count, column set, and order-insensitive values (sorted columns, sorted
rows). Each result line ends with the Spark result's sorted-row md5
(``sorted_row_md5``), so two runs of this script diff into the entries whose
output changed. Usage:

    python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _cell(v) -> str:
    return repr(v.tolist() if hasattr(v, "tolist") else v)


def sorted_row_md5(df: pd.DataFrame) -> str:
    """md5 of the column names and the rows as text, columns by name and rows
    sorted, every value at full precision: equal digests mean equal results."""
    cols = sorted(df.columns)
    rows = sorted("\t".join(_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    return hashlib.md5("\n".join(["\t".join(cols), *rows]).encode()).hexdigest()


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(f"columns: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}")
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}")
    a, b = normalize(spark_df), normalize(oracle_df)
    if len(a) == len(b):
        import numpy as np

        neq = np.zeros(len(a), dtype=bool)
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if str(a[c].dtype).startswith("float"):
                # NaN == NaN for parity (corr over a constant column, avg of
                # an empty group) — elementwise != flags them spuriously
                neq |= ~np.isclose(av.astype(float), bv.astype(float),
                                   rtol=0, atol=1e-9, equal_nan=True)
            else:
                neq |= av != bv
        if neq.any():
            for r in np.where(neq)[0][:3]:
                problems.append(f"row {r}: spark={a.iloc[r].to_dict()} oracle={b.iloc[r].to_dict()}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from llm_tab_cleaner_spark.session import build_session

    spark = build_session(cpus=8)
    con = duck_conn(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {e}")
            failed.append(name)
            continue
        md5 = sorted_row_md5(sdf)
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows md5={md5}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: oracle error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"[FAIL] {name}: md5={md5}")
            for p in problems:
                print(f"    {p}")
            failed.append(name)
        else:
            print(f"[ok] {name}: {len(sdf)} rows match md5={md5}")

    print(f"\n{len(failed)} failures: {failed}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

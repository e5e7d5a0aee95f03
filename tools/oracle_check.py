#!/usr/bin/env python
"""Strict oracle check: exact (hash-class) equality of each query vs its
DuckDB oracle — byte-identical values after canonical sort, mirroring the
driver's rows+schema+hash gate (stricter than tests' 1e-9 float gate).

Usage: python tools/oracle_check.py <sf_dir> [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def canon(df):
    df = df[sorted(df.columns)].copy()
    def r(v):
        v = v.item() if hasattr(v, "item") else v
        return repr(v)

    for c in df.columns:
        df[c] = df[c].map(r)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def main() -> None:
    from semantic_pdf_search_engine_spark import registry
    from semantic_pdf_search_engine_spark.session import get_spark
    from tests.oracle_compare import duckdb_con

    sf_dir = sys.argv[1]
    names = sys.argv[2:] or sorted(registry.ORACLE_SQL)
    spark = get_spark(app_name="oracle-check")
    con = duckdb_con(sf_dir)
    bad = []
    for name in names:
        sql = registry.ORACLE_SQL.get(name)
        if sql is None:
            print(f"{name:28s} SKIP (no oracle)")
            continue
        try:
            got = canon(registry.QUERIES[name](spark, sf_dir).toPandas())
            want = canon(con.execute(sql).df())
            if got.shape != want.shape:
                bad.append(name)
                print(f"{name:28s} FAIL shape {got.shape} vs {want.shape}")
                continue
            if list(got.columns) != list(want.columns):
                bad.append(name)
                print(f"{name:28s} FAIL cols {list(got.columns)} vs {list(want.columns)}")
                continue
            neq = (got != want)
            if neq.any().any():
                bad.append(name)
                col = neq.any()[neq.any()].index[0]
                i = neq[col].idxmax()
                print(
                    f"{name:28s} FAIL value {col}[{i}]: "
                    f"{got[col][i]} != {want[col][i]}"
                )
            else:
                print(f"{name:28s} MATCH ({len(got)} rows)")
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"{name:28s} ERROR {type(e).__name__}: {e}")
    print(f"\n{'ALL MATCH' if not bad else 'FAILURES: ' + ', '.join(bad)}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() in DuckDB on the
same parquet tables; compare row count, column names, and values
(rows sorted canonically, floats to 1e-9).

Usage: python scripts/check_queries.py [sf_dir] [name ...]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(exp.columns):
        return [f"columns differ: {sorted(got.columns)} vs {sorted(exp.columns)}"]
    if len(got) != len(exp):
        problems.append(f"row count {len(got)} vs {len(exp)}")
        return problems
    cols = sorted(got.columns)
    got = got[cols]
    exp = exp[cols]

    def canon(df):
        key = df.astype(str)
        order = np.lexsort([key[c].to_numpy() for c in reversed(cols)])
        return df.iloc[order].reset_index(drop=True)

    got, exp = canon(got), canon(exp)
    for c in cols:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            ga = pd.to_numeric(g, errors="coerce").to_numpy(dtype=float)
            ea = pd.to_numeric(e, errors="coerce").to_numpy(dtype=float)
            if not ((np.isnan(ga) == np.isnan(ea)).all()):
                problems.append(f"{c}: null mismatch")
            elif not np.allclose(ga, ea, rtol=1e-9, atol=1e-9, equal_nan=True):
                bad = np.nonzero(~np.isclose(ga, ea, rtol=1e-9, atol=1e-9, equal_nan=True))[0][:3]
                problems.append(f"{c}: {ga[bad].tolist()} vs {ea[bad].tolist()}")
        else:
            gs = g.map(lambda x: None if pd.isna(x) else x)
            es = e.map(lambda x: None if pd.isna(x) else x)
            neq = [i for i, (a, b) in enumerate(zip(gs, es)) if a != b]
            if neq:
                problems.append(f"{c}: row {neq[0]}: {gs[neq[0]]!r} vs {es[neq[0]]!r}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01",
                    help="directory of the <table>.parquet inputs")
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    args = ap.parse_args()
    sf_dir, only = args.sf_dir, set(args.names)

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()

    from engine.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        got = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:25s} ROWS-ONLY rows={len(got)}")
            continue
        exp = con.execute(oracles[name]).df()
        problems = compare(name, got, exp)
        if problems:
            n_fail += 1
            print(f"{name:25s} FAIL  {problems[:3]}")
        else:
            print(f"{name:25s} OK    rows={len(got)}")
    print("FAILURES:", n_fail)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

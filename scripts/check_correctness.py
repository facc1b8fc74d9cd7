"""Local mimic of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf dir; compare row count,
column names, and order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints/floats → float64 where possible, everything else str
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s) or pd.api.types.is_integer_dtype(s):
            out[c] = pd.to_numeric(s, errors="coerce").astype("float64")
        else:
            out[c] = s.astype(str)
    nd = pd.DataFrame(out)
    return nd.sort_values(by=list(nd.columns), kind="mergesort").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if sorted(a.columns) != sorted(b.columns):
        return f"columns differ: {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"row count differs: {len(a)} vs {len(b)}"
    na, nb = normalize(a), normalize(b)
    for c in na.columns:
        sa, sb = na[c], nb[c]
        # BIT-EXACT compare (mirrors the driver's value-hash): tolerance passes
        # locally can still hash-mismatch at the gate, so don't allow slack.
        if pd.api.types.is_float_dtype(sa):
            bad = ~((sa.isna() & sb.isna()) | (sa == sb))
        else:
            bad = sa != sb
        if bad.any():
            i = bad.idxmax()
            return f"value mismatch col={c} row={i}: {sa[i]!r} vs {sb[i]!r} ({int(bad.sum())} bad)"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # the Python workers import the package too, and inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    import __spark_entry__ as entry_mod
    from webarchive_discovery_spark.session import get_spark

    spark = get_spark("correctness-check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duck_connect(sf_dir)

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(spark_df)} (no oracle; rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        err = compare(spark_df, duck_df)
        if err:
            failures.append(name)
            print(f"FAIL {name}: {err} [{time.time()-t0:.1f}s]")
        else:
            print(f"PASS {name}: rows={len(spark_df)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

"""Local replica of the driver's correctness gate: run each queries() entry
via Spark and its oracle_sql() via DuckDB at a given sf dir, compare
row-count, column names, and order-insensitive values (exact match after
canonicalization). Usage: python tools/check_oracle.py [sf_dir] [q1 q2 ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonicalization. Mirrors the two driver behaviors the
    round-1 stringify-canon hid:
    - sort on RAW values first (pandas factorize — raises TypeError on
      unhashable cells like lists/ndarrays, exactly like the driver's
      canonicalizer did on q18's images array);
    - compare numeric TYPE KIND, not just rendered text (Spark BIGINT vs
      DuckDB HUGEINT→float both render '5' but hash differently in the
      driver — q27 hash_match=false).
    """
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)
    # raw sort via per-column Categorical codes — the driver's exact
    # mechanism (lexsort_indexer → Categorical → factorize); nulls get
    # code -1 and sort first, unhashables raise TypeError as in the driver
    keys = [pd.Categorical(df[c], ordered=True).codes for c in df.columns]
    idx = np.lexsort(list(reversed(keys))) if keys else np.arange(len(df))
    df = df.iloc[idx].reset_index(drop=True)

    def norm(v):
        if isinstance(v, float):
            return f"f:{v:.10g}"
        if isinstance(v, (int,)) and not isinstance(v, bool):
            return f"i:{v}"
        if isinstance(v, (list, tuple)):
            return str([norm(x) for x in v])
        return str(v)

    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            out[c] = col.map(lambda v: f"f:{v:.10g}")
        elif col.dtype.kind in ("i", "u"):
            out[c] = col.map(lambda v: f"i:{v}")
        else:
            out[c] = col.map(norm)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from politics_crawler_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            continue
        if sql is None:
            try:  # driver still canonicalizes rows-only results — prove it survives
                canon(sdf)
                print(f"{name}: rows-only, spark rows={len(sdf)} (canon ok)")
            except Exception as e:
                failures.append(name)
                print(f"{name}: rows-only CANON ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        try:
            ddf = con.sql(sql).df()
        except Exception as e:
            failures.append(name)
            print(f"{name}: DUCKDB ERROR {str(e)[:300]}")
            continue
        ok_rows = len(sdf) == len(ddf)
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            a, b = canon(sdf), canon(ddf)
            ok_vals = a.equals(b)
            if not ok_vals:
                diff = (a != b).any(axis=1)
                print(f"{name}: VALUE MISMATCH ({int(diff.sum())} rows)")
                print("spark:", a[diff].head(3).to_dict("records"))
                print("duck :", b[diff].head(3).to_dict("records"))
        else:
            print(f"{name}: rows {len(sdf)} vs {len(ddf)}, cols {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{name}: {status} rows={len(sdf)}")
    print("FAILURES:", failures or "none")


if __name__ == "__main__":
    main()

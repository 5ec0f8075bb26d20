"""Local replica of the driver's t2 correctness gate: run each
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, schema width, and order-insensitive values.

The script imports the checkout it lives in (driver and Python
workers). Spark runs every query on every run; a DuckDB oracle result
is cached under ORACLE_CACHE (outside any checkout, so clones share
it), keyed by the SHA-256 of the oracle's SQL text, the DuckDB version
and the content of every input parquet, and a cached result prints as
"(oracle cached)". Delete the directory to re-run every oracle.

Usage: python tools/check_correctness.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers (mapInArrow kernels) import the same checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry_mod
from optbinning_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
ORACLE_CACHE = os.path.join(
    os.path.expanduser("~"), ".cache", "optbinning_spark", "oracles")


def inputs_digest(sf_dir: str = SF_DIR) -> str:
    """SHA-256 over the DuckDB version and every input parquet's bytes."""
    h = hashlib.sha256(duckdb.__version__.encode())
    for t in TABLES:
        with open(f"{sf_dir}/{t}.parquet", "rb") as fh:
            h.update(t.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_df(con, sql: str, inputs: str) -> tuple[pd.DataFrame, bool]:
    """The oracle's result and whether it came from the cache."""
    key = hashlib.sha256((inputs + "\0" + sql).encode()).hexdigest()
    path = os.path.join(ORACLE_CACHE, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh), True
    df = con.execute(sql).df()
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(df, fh)
    os.replace(tmp, path)
    return df, False


def canon(df: pd.DataFrame, strict: bool = True) -> pd.DataFrame:
    """Canonical form for value comparison.

    strict=True emulates the driver's value hash: every cell is
    rendered by repr, so an int64 20046 vs a float64 20046.0 (DuckDB
    HUGEINT sums surface as floats in pandas) MISMATCHES — oracles
    must CAST integer sums to BIGINT.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if strict:
            if pd.api.types.is_integer_dtype(df[c]):
                # nullable Int64 with pd.NA raises on astype('int64');
                # report that query as FAIL, don't abort the whole run
                try:
                    df[c] = df[c].astype("int64").map(repr)
                except (ValueError, TypeError):
                    df[c] = df[c].map(
                        lambda v: "<NULL>" if pd.isna(v) else repr(int(v)))
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64").map(repr)
            else:
                # normalize nulls to one sentinel: Spark surfaces string
                # NULLs as None (repr 'None'), DuckDB as NaN; guard
                # pd.isna for array-valued cells (ambiguous truth)
                def _obj_repr(v):
                    try:
                        if pd.isna(v):
                            return "<NULL>"
                    except (TypeError, ValueError):
                        pass
                    return repr(v)

                df[c] = df[c].map(_obj_repr)
        else:
            try:
                num = pd.to_numeric(df[c])
                df[c] = num.astype("float64").round(9)
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    only = set(sys.argv[1:])
    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    # No memory_limit: DuckDB does not spill the wide_fit_exact
    # oracle's operators (no temporary storage used). At sf0.01 its
    # buffer manager accounts for 6.6 GB while this process's RSS peaks
    # at 3.8 GB, and caps of 4-6 GB (1-4 threads) fail that oracle with
    # an out-of-memory error, so DuckDB's default (80% of RAM) stays.
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    inputs = inputs_digest()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            odf, cached = oracle_df(con, oracles[name], inputs)
        except Exception as e:
            print(f"FAIL {name}: oracle error {str(e)[:300]}")
            n_fail += 1
            continue
        a, b = canon(sdf), canon(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {bad.sum()} mismatched rows of {len(a)}")
            print("spark:", a[bad].head(3).to_dict("records"))
            print("duck :", b[bad].head(3).to_dict("records"))
            n_fail += 1
            continue
        note = "  (oracle cached)" if cached else ""
        print(f"PASS {name}: {len(a)} rows  ({time.time()-t0:.1f}s){note}")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    # keep the README's generated oracle-count honest (round-5 verdict:
    # the hand-maintained sentence went stale one commit after landing)
    try:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from update_readme_counts import generated_sentence

        readme = open(os.path.join(ROOT, "README.md")).read()
        if generated_sentence() not in readme:
            print("NOTE: README oracle-count is stale — run "
                  "tools/update_readme_counts.py")
    except Exception:
        pass
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle at sf0.01, compare row-count, schema
arity, and order-insensitive values (exact — our queries are engineered to
be bit-deterministic cross-engine).

Usage: python tools/check_correctness.py [--sf-dir DIR] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)  # repo root → tectonic_spark importable without PYTHONPATH

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            if math.isnan(v):
                return "<null>"
            return repr(v)
        return str(v)

    out = df.map(norm)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_df, oracle_df) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        problems.append(f"columns spark={s_cols} oracle={o_cols}")
        return problems
    cs, co = canon(spark_df), canon(oracle_df)
    if len(cs) == len(co) and not cs.equals(co):
        neq = (cs != co).any(axis=1)
        idx = neq[neq].index[:3]
        for i in idx:
            problems.append(f"row {i}: spark={cs.loc[i].to_dict()} oracle={co.loc[i].to_dict()}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--no-pushdown",
        action="store_true",
        help="build the session like the correctness driver does: "
        "spark.sql.python.filterPushdown.enabled=false (Spark's default)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.no_pushdown:
        import os

        os.environ["TECTONIC_FILTER_PUSHDOWN"] = "false"

    import tectonic_spark.operators as ops
    from tectonic_spark import get_spark

    spark = get_spark(app_name="tectonic-correctness")
    con = duck_con(args.sf_dir)

    names = args.names or list(ops.REGISTRY)
    failed = []
    for name in names:
        q = ops.REGISTRY.get(name)
        if q is None:
            # Report-and-continue (VERDICT r7 item 6): one unknown name must
            # not abort a partial sweep; exit code stays nonzero via `failed`.
            print(f"FAIL  {name}: unknown query name (not in REGISTRY)")
            failed.append(name)
            continue
        try:
            sdf = q.builder(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        finally:
            # r14 cache hygiene (ADVICE r13): persist-carrying builders
            # (minhash, neardup, kmeans_scaled, pagerank, triangle, ...)
            # otherwise accumulate MEMORY_AND_DISK blocks across the
            # 244-query sweep until ContextCleaner happens to GC them.
            # localCheckpoint RDD blocks (the connected-components and
            # alpha-beta-core builders) are not cached tables: they
            # survive clearCache().
            spark.catalog.clearCache()
        if q.oracle is None:
            print(f"ok*   {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(q.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok    {name}: {len(sdf)} rows match")
    print(f"\n{len(names) - len(failed)}/{len(names)} queries pass")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

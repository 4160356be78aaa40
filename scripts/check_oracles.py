#!/usr/bin/env python
"""Driver-correctness simulator: run every registry() entry on Spark and
its oracle twin on DuckDB over the same parquet, compare row count,
schema (column names), and an order-insensitive value hash — the same
contract CORRECTNESS_r{N}.json is built from. Entries run in driver
order; only the named ones (all when none are named) build their oracle.
A name the registry does not hold is rejected (exit 2) before Spark
starts. A rows-only entry (no oracle) prints its row count and the
value hash of its rows, so two runs can be compared. An entry that fails
after its build logged `EVAL_SCHEMA_ABSENT` (the guard entries on a host
without the reference's eval schema) is reported as "reference schema
absent" and listed apart from the failures. Every run ends with the
counts it has ("N oracles checked, M rows-only, K unchecked"); it says
"all oracles match" only when it compared at least one oracle.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
(sf_dir defaults to sf0.01, the dir the driver compares at)
"""

from __future__ import annotations

import hashlib
import logging.handlers
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from cypher_guard_spark.ops.relational import TABLES  # noqa: E402


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.astype(str)
        elif "datetime" in str(col.dtype):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif col.dtype.kind == "f":
            df[c] = col.round(6).map(lambda v: f"{v:.6f}")
        else:
            df[c] = col.astype("Int64").astype(str)
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main():
    # default: the dir the driver compares at
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else entry._ORACLE_SF_DIR_DEFAULT
    only = set(sys.argv[2:])
    registry = entry.registry()
    unknown = sorted(only - {name for name, _b, _o in registry})
    if unknown:
        print(f"unknown registry entries: {unknown}", file=sys.stderr)
        sys.exit(2)
    # VALUES oracles that recompute from the documents parquet (minhash /
    # simhash) must read the same sf dir the Spark side is handed
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    from cypher_guard_spark.spark import build_session

    spark = build_session("oracle-check", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # holds the records each build logs, to spot the schema fallback
    logged = logging.handlers.BufferingHandler(capacity=1 << 20)
    entry.logger.addHandler(logged)

    failures, absent = [], []
    checked = rows_only = 0
    for name, build, oracle in registry:
        if only and name not in only:
            continue
        logged.buffer.clear()
        sdf = build(spark, sf_dir).toPandas()
        no_schema = any(r.msg is entry.EVAL_SCHEMA_ABSENT for r in logged.buffer)
        if oracle is None:
            print(
                f"{name:28s} rows={len(sdf):6d}  value_hash={value_hash(sdf)}"
                "  (rows-only: no oracle)"
            )
            rows_only += 1
            continue
        odf = con.sql(oracle()).df()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL" and no_schema:
            absent.append(name)
            print(f"{name:28s} rows={len(sdf):6d}/{len(odf):6d} reference schema absent")
            continue
        checked += 1
        print(
            f"{name:28s} rows={len(sdf):6d}/{len(odf):6d} cols={'='.join(['ok' if ok_cols else 'MISMATCH'])} hash={'ok' if ok_hash else 'MISMATCH'} {status}"
        )
        if status == "FAIL":
            failures.append(name)
            print("  spark cols:", sorted(sdf.columns))
            print("  oracle cols:", sorted(odf.columns))
            if ok_cols and ok_rows:
                merged_s = sdf[sorted(sdf.columns)].sort_values(sorted(sdf.columns)).head(3)
                merged_o = odf[sorted(odf.columns)].sort_values(sorted(odf.columns)).head(3)
                print("  spark head:\n", merged_s.to_string())
                print("  oracle head:\n", merged_o.to_string())
    spark.stop()
    if absent:
        print("UNCHECKED (reference schema absent):", absent)
    if failures:
        print("FAILURES:", failures)
    elif checked:
        print("all checked oracles match" if absent else "all oracles match")
    print(f"{checked} oracles checked, {rows_only} rows-only, {len(absent)} unchecked")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()

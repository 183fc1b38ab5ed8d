"""Local replica of the driver's correctness gate: run each queries()[name]
on Spark and oracle_sql()[name] on DuckDB at a given sf dir; compare row
count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    import datetime
    import math

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        # driver-unknown normalization; use repr of rounded value
        return f"{v:.9g}"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from wdedup_spark.session import spark_session

    spark = spark_session(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # queries may share one oracle (incremental_clusters IS dedup_clusters'
    # closure): run each distinct SQL text once per invocation
    oracle_results: dict[str, pd.DataFrame] = {}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:24s} rows={len(sdf):6d}  (rows-only, no oracle)")
            continue
        try:
            sql = oracles[name]
            if sql not in oracle_results:
                oracle_results[sql] = con.execute(sql).fetchdf()
            odf = oracle_results[sql]
        except Exception as e:
            print(f"{name:24s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_cols and value_hash(sdf) == value_hash(odf)
        # dtype KIND parity (int vs float vs object): the driver's hash is
        # dtype-sensitive (3 vs 3.0 mismatch) while %.9g normalization
        # above is not — catch it here so local OK == driver OK
        kind_mismatch = []
        if ok_cols:
            for c in sdf.columns:
                ks, ko = sdf[c].dtype.kind, odf[c].dtype.kind
                if (ks in "iu") != (ko in "iu") or (ks == "f") != (ko == "f"):
                    kind_mismatch.append((c, str(sdf[c].dtype), str(odf[c].dtype)))
        ok_kinds = not kind_mismatch
        status = "OK" if (ok_rows and ok_cols and ok_hash and ok_kinds) else "MISMATCH"
        print(f"{name:24s} rows={len(sdf):6d}/{len(odf):6d} cols={ok_cols} hash={ok_hash} {status}"
              + (f" dtype-kind mismatch: {kind_mismatch}" if kind_mismatch else ""))
        if status != "OK":
            failures.append(name)
            if not ok_cols:
                print(f"   spark cols: {sorted(sdf.columns)}\n   oracle cols: {sorted(odf.columns)}")
            elif not ok_hash and len(sdf) < 50 and len(odf) < 50:
                print("   spark:", sorted(map(tuple, sdf[sorted(sdf.columns)].values.tolist()))[:5])
                print("   oracle:", sorted(map(tuple, odf[sorted(odf.columns)].values.tolist()))[:5])
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

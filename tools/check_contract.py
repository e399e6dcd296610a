"""Local twin of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the oracle on DuckDB over the same
parquet tables; compares row counts and (column-name-sorted,
row-sorted) values EXACTLY. Strictly harder than a value-hash compare:
if this passes, any order-insensitive hash matches too. Only the
oracles of the queries that run are built, and an oracle that cannot
be built fails its query.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders events documents"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell values for cross-engine compare
    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)  # exact double repr
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    out = df.apply(lambda col: col.map(canon))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # precomputed single-process oracles must read the same sf tables
    os.environ["OTDS_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from opentopodata_spark.session import get_spark

    spark = get_spark(cores=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, {t1 - t0:.1f}s)")
            if len(sdf) == 0:
                failures.append(name)
                print(f"FAIL  {name}: rows-only query returned 0 rows")
            continue
        try:  # builds this query's oracle, and only this one
            sql = oracles[name]
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {exc!r}")
            traceback.print_exc()
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL  {name}: rows spark={len(sdf)} duckdb={len(odf)}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(
                f"FAIL  {name}: cols spark={sorted(sdf.columns)} "
                f"duckdb={sorted(odf.columns)}"
            )
            continue
        a, b = normalize(sdf), normalize(odf)
        if a.equals(b):
            print(f"OK    {name}: {len(sdf)} rows ({t1 - t0:.1f}s)")
        else:
            failures.append(name)
            neq = (a != b).any(axis=1)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
            idx = neq[neq].index[:3]
            for i in idx:
                print("  spark :", a.loc[i].to_dict())
                print("  duckdb:", b.loc[i].to_dict())
        if len(sdf) == 0:
            print(f"WARN  {name}: zero rows on both sides (weak signal)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

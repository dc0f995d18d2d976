"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and the matching oracle_sql()[name] on DuckDB
over the same sf dir; compare row count, column names, and an
order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

# import the package of the checkout this file lives in
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for tup in pdf.itertuples(index=False):
        rows.append(
            "|".join(
                "NULL" if v is None or (isinstance(v, float) and v != v)
                else f"{v:.6f}" if isinstance(v, float)
                else str(v)
                for v in tup
            )
        )
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main():
    argv = list(sys.argv[1:])
    record = None
    if "--record" in argv:
        i = argv.index("--record")
        record = argv[i + 1]
        del argv[i: i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from raster_tools_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:24s} SPARK ERROR: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(got)} rows "
                  f"cols={list(got.columns)}")
            results[name] = {"status": "rows-only", "rows": len(got)}
            if len(got) == 0 and name != "pip_polygon":
                failures.append(name)
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:24s} ORACLE ERROR: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        ok_rows = len(got) == len(exp)
        ok_cols = sorted(got.columns) == sorted(exp.columns)
        ok_hash = ok_rows and ok_cols and value_hash(got) == value_hash(exp)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(
            f"{name:24s} {status}  rows {len(got)}/{len(exp)} "
            f"cols_match={ok_cols} hash_match={ok_hash}"
        )
        results[name] = {
            "status": status, "rows": len(got), "oracle_rows": len(exp),
            "cols_match": ok_cols, "hash_match": ok_hash,
        }
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"  spark cols: {sorted(got.columns)}")
                print(f"  duck  cols: {sorted(exp.columns)}")
    spark.stop()
    if record:
        import json
        n_hard = sum(1 for v in results.values()
                     if v.get("hash_match"))
        n_rows_only = sum(1 for v in results.values()
                          if v["status"] == "rows-only")
        with open(record, "w") as f:
            json.dump({
                "note": f"full-registry correctness sweep at {sf_dir} "
                        "via tools/check_oracles.py",
                "oracle_hard_green": n_hard,
                "rows_only": n_rows_only,
                "failures": failures,
                "queries": results,
            }, f, indent=1)
        print(f"recorded {record}")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()

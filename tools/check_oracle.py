"""Driver-mimic: run every __spark_entry__ query on Spark AND its oracle
SQL on DuckDB, compare row-count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def norm(v):
    import datetime
    import math

    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sorted(
                (tuple(norm(r[c]) for c in scols) for r in sdf.collect()),
                key=repr,
            )
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(srows)})")
            continue
        try:
            res = con.execute(oracles[name])
            dcols_raw = [d[0] for d in res.description]
            drows_raw = res.fetchall()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
        dcols = [dcols_raw[i] for i in order]
        drows = sorted((tuple(norm(r[i]) for i in order) for r in drows_raw), key=repr)
        if scols != dcols:
            failures.append((name, f"cols spark={scols} duck={dcols}"))
            print(f"FAIL {name}: column mismatch spark={scols} duck={dcols}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rowcount spark={len(srows)} duck={len(drows)}"))
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        bad = None
        for a, b in zip(srows, drows):
            if a != b:
                bad = (a, b)
                break
        if bad:
            failures.append((name, f"value {bad[0]} != {bad[1]}"))
            print(f"FAIL {name}: first diff spark={bad[0]} duck={bad[1]}")
        else:
            print(f"OK   {name}: rows={len(srows)} cols={scols}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES")
        sys.exit(1)
    print("ALL MATCH")
    spark.stop()


if __name__ == "__main__":
    main()

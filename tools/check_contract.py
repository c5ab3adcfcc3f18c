"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(norm_cell(r[i]) for i in idx) for r in rows
    )
    return [c for c in sorted(cols)], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from kgner.queries import ORACLES, QUERIES
    from kgner.session import get_spark, local_cores

    # contract-shape self-check: every query must carry an oracle, and the
    # counts are printed so a driver run that silently drops an entry (the
    # r3 CORRECTNESS file had 50 rows for a 51-query contract) is visible.
    missing_oracle = sorted(set(QUERIES) - set(ORACLES))
    stray_oracle = sorted(set(ORACLES) - set(QUERIES))
    assert not missing_oracle, f"queries without oracle_sql: {missing_oracle}"
    assert not stray_oracle, f"oracles without a query: {stray_oracle}"
    print(f"contract: {len(QUERIES)} queries / {len(ORACLES)} oracles")

    cores = local_cores()
    spark = get_spark(
        "contract-check", master=f"local[{cores}]", shuffle_partitions=2 * cores
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"[FAIL-spark] {name}: {str(ex)[:300]}")
            continue
        spark_s = time.monotonic() - t0
        if name not in ORACLES:
            print(f"[rows-only] {name}: {len(srows)} rows ({spark_s:.1f}s)")
            continue
        try:
            res = con.sql(ORACLES[name])
            ocols = res.columns
            orows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"[FAIL-duck] {name}: {str(ex)[:300]}")
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            failures.append((name, f"columns {sc} vs {oc}"))
            print(f"[FAIL-cols] {name}: {sc} vs {oc}")
            continue
        if len(sr) != len(orr):
            failures.append((name, f"rowcount {len(sr)} vs {len(orr)}"))
            print(f"[FAIL-count] {name}: {len(sr)} vs {len(orr)}")
            # show samples
            only_s = [r for r in sr if r not in set(orr)][:3]
            only_o = [r for r in orr if r not in set(sr)][:3]
            print("  spark-only:", only_s)
            print("  duck-only :", only_o)
            continue
        if sr != orr:
            diffs = [
                (a, b) for a, b in zip(sr, orr) if a != b
            ][:3]
            failures.append((name, f"values differ, e.g. {diffs[:1]}"))
            print(f"[FAIL-vals] {name}: first diffs {diffs}")
            continue
        print(f"[OK] {name}: {len(sr)} rows ({spark_s:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [f[0] for f in failures])
        sys.exit(1)
    print(f"ALL MATCH ({len(QUERIES)}/{len(ORACLES)} queries/oracles in contract)")


if __name__ == "__main__":
    main()

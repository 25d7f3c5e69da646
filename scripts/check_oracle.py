"""Driver-style correctness harness: run every queries() entry on Spark and
its oracle_sql() on DuckDB over the same parquet tables; compare row count,
column names, and an order-insensitive value multiset.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "embeddings",
]


def norm(v):
    """Driver-faithful normalization: the driver's value hash is SENSITIVE to
    the sign bit of 0.0 (round-4 root cause of the lidar_normal_vectors red
    row), so -0.0 must NOT collapse to +0.0 here. Engine and oracle queries
    normalize signed zero themselves (`round(...) + 0.0`). DuckDB DECIMAL
    cells are cast to float so they sort/compare numerically against Spark
    doubles (the driver compares values, not wire types)."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return v
    return v


def _row_key(t):
    """Total order over norm()-ed tuples that may mix floats with the
    "nan"/"-0.0" string markers (and None/str/bool cells)."""
    key = []
    for v in t:
        if v is None:
            key.append((0, 0.0, ""))
        elif isinstance(v, bool):
            key.append((1, float(v), ""))
        elif isinstance(v, (int, float)):
            key.append((2, float(v), ""))
        elif isinstance(v, str):
            key.append((3, 0.0, v))
        else:
            key.append((4, 0.0, str(v)))
    return key


def count_negzero(rows, cols):
    """Count -0.0 cells; any hit is a latent driver hash failure."""
    n = 0
    for r in rows:
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0:
                n += 1
    return n


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from whitebox_tools_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
            sset = sorted(
                (tuple(norm(r[c]) for c in scols) for r in srows),
                key=_row_key,
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        nz = count_negzero(srows, sdf.columns)
        if nz:
            print(f"FAIL {name}: {nz} -0.0 cells in spark output "
                  "(driver hash is sign-of-zero sensitive)")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"PASS(rows-only) {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols_raw = res.columns
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dcols = sorted(dcols_raw)
        order = [dcols_raw.index(c) for c in dcols]
        dset = sorted(
            (tuple(norm(r[i]) for i in order) for r in drows), key=_row_key
        )
        if scols != dcols:
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            failures.append(name)
        elif len(sset) != len(dset):
            print(f"FAIL {name}: rows {len(sset)} vs {len(dset)}")
            failures.append(name)
        elif sset != dset:
            diff = [i for i, (a, b) in enumerate(zip(sset, dset)) if a != b][:3]
            print(f"FAIL {name}: values differ, first idx {diff}")
            for i in diff[:2]:
                print(f"   spark: {sset[i]}")
                print(f"   duck : {dset[i]}")
            failures.append(name)
        else:
            print(f"PASS {name}: {len(sset)} rows")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL PASS")


if __name__ == "__main__":
    main()

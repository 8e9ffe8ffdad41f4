"""Self-verification mimicking the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle on DuckDB at a given sf,
compare row count, column-name set, and an order-insensitive value hash.

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from json_ld_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v) -> str:
    # Type-TAGGED canon: the driver's hasher distinguishes int64 from
    # float64/Decimal (DuckDB HUGEINT sums surface as non-int and fail the
    # driver hash even when values are numerically equal — round-1 lesson:
    # rel_json_events/rel_sessionize_events). Tagging the Python/numpy type
    # makes any cross-engine type divergence fail HERE first.
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "bool:" + str(int(v))
    if isinstance(v, (int, np.integer)):
        return "int:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        return "float:" + repr(round(float(v), 9))
    return type(v).__name__ + ":" + str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = [
        "\x1f".join(canon_cell(row[c]) for c in cols)
        for _, row in pdf.iterrows()
    ]
    rows.sort()
    return hashlib.sha256("\x1e".join(rows).encode("utf-8")).hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            failures.append(name)
            continue
        t1 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            failures.append(name)
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        h_s = value_hash(sdf)
        h_o = value_hash(odf)
        ok_hash = h_s == h_o
        status = "ok   " if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        print(
            f"{status} {name}: rows {len(sdf)}/{len(odf)} cols={ok_cols} "
            f"hash {h_s}/{h_o} ({t1-t0:.1f}s)"
        )
        if status != "ok   ":
            failures.append(name)
            if not ok_cols:
                print(f"      spark cols: {sorted(sdf.columns)}")
                print(f"      duck  cols: {sorted(odf.columns)}")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

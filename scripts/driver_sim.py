"""Replay the driver's correctness gate locally.

Runs the first N (default 50 — the driver's observed per-round budget)
entries of ``__spark_entry__.queries()`` at sf0.01 and compares each
against its ``oracle_sql()`` entry via DuckDB the way the driver does:
row count, column-name set, and an order-insensitive value hash over
columns sorted by name.  Prints one status line per query and a summary.

Usage: ``python scripts/driver_sim.py [N] [sf_dir]``
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from inverted_index_using_the_map_reduce_paradigm_spark.data import TABLES  # noqa: E402
from inverted_index_using_the_map_reduce_paradigm_spark.session import get_spark  # noqa: E402
from __spark_entry__ import driver_order  # noqa: E402


def value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    rows = sorted(
        "\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark("driver_sim")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = list(driver_order().items())[:n]
    bad = []
    for name, q in qs:
        t0 = time.perf_counter()
        try:
            got = q.fn(spark, sf_dir).toPandas()
            if q.oracle is None:
                print(f"{name}: no-oracle rows={len(got)} "
                      f"({time.perf_counter() - t0:.1f}s)")
                continue
            want = con.sql(q.oracle).df()
            ok_rows = len(got) == len(want)
            ok_cols = sorted(got.columns) == sorted(want.columns)
            ok_hash = ok_rows and ok_cols and value_hash(got) == value_hash(want)
            status = "OK" if ok_hash else "MISMATCH"
            if not ok_hash:
                bad.append(name)
            print(f"{name}: {status} rows={len(got)}/{len(want)} "
                  f"cols={ok_cols} ({time.perf_counter() - t0:.1f}s)")
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}")
    print(f"\n{len(qs) - len(bad)}/{len(qs)} green; failing: {bad}")


if __name__ == "__main__":
    main()

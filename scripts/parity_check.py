"""Local dry-run of the driver's correctness gate at an arbitrary SF.

Usage: python scripts/parity_check.py [sf_dir] [query ...]

Runs each named query (default: every query WITHOUT a prior driver row,
i.e. the ones the driver will sample next round) on Spark and — when an
oracle exists — on DuckDB over the same parquet, comparing row count,
column names, and order-insensitive values exactly like
tests/test_oracle_parity.py does, but at the driver's sf0.01 instead of
the suite's sf0.001.  No-oracle queries just execute and report a row
count (the driver's rows-only check).
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd

# Resolve the repo root from this file so the script runs from any cwd.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inverted_index_using_the_map_reduce_paradigm_spark.parity import (
    duck_con,
    normalize,
)
from inverted_index_using_the_map_reduce_paradigm_spark.registry import load_all
from inverted_index_using_the_map_reduce_paradigm_spark.session import get_spark
from __spark_entry__ import _prior_driver_rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs = load_all()
    if len(sys.argv) > 2:
        names = sys.argv[2:]
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown queries: {unknown}\nknown: {sorted(qs)}")
            return 2
    else:
        covered, _ = _prior_driver_rows()
        names = [n for n in qs if n not in covered]

    spark = get_spark()
    con = duck_con(sf_dir)

    failures = []
    for name in names:
        q = qs[name]
        t0 = time.time()
        try:
            got = normalize(q.fn(spark, sf_dir).toPandas())
            if q.oracle is None:
                print(f"  {name}: rows-only {len(got)} rows ({time.time()-t0:.1f}s)")
                continue
            want = normalize(con.sql(q.oracle).df())
            if list(got.columns) != list(want.columns):
                raise AssertionError(
                    f"columns {list(got.columns)} != {list(want.columns)}"
                )
            if len(got) != len(want):
                raise AssertionError(f"rows {len(got)} != {len(want)}")
            if not got.equals(want):
                diff = (got != want).any(axis=1)
                sample = pd.concat(
                    [
                        got[diff].head(3).add_prefix("spark_"),
                        want[diff].head(3).add_prefix("duck_"),
                    ],
                    axis=1,
                )
                raise AssertionError(
                    f"value mismatch on {int(diff.sum())} rows\n{sample}"
                )
            print(f"  {name}: OK {len(got)} rows ({time.time()-t0:.1f}s)")
        except Exception as e:  # noqa: BLE001 — report and continue
            failures.append(name)
            print(f"  {name}: FAIL ({time.time()-t0:.1f}s) {e}")

    print(f"\n{len(names) - len(failures)}/{len(names)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

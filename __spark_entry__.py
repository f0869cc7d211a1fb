"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The actual engine surface lives in the
``inverted_index_using_the_map_reduce_paradigm_spark`` package; this module exposes
its registry in the order the driver should verify it.  That order is
derived from the committed CORRECTNESS_r*.json files, so it lives here
and not in the engine.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from inverted_index_using_the_map_reduce_paradigm_spark import registry  # noqa: E402
from inverted_index_using_the_map_reduce_paradigm_spark.data import table  # noqa: E402
from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (  # noqa: E402
    build_index,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full inverted index over sf0.001 documents, in the
    reference's global output order (letter, doc_freq DESC, word ASC)."""
    from pyspark.sql import functions as F

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    return build_index(docs).orderBy("letter", F.desc("doc_freq"), F.asc("word"))


def _correctness_files() -> list[tuple[int, str]]:
    """Committed ``CORRECTNESS_r{N}.json`` files next to this module,
    as (round_number, path) pairs."""
    import glob
    import re

    out: list[tuple[int, str]] = []
    for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def _prior_driver_rows() -> tuple[frozenset[str], int]:
    """(names with a prior *successful* driver row, next round number).

    Derived from the committed ``CORRECTNESS_r{N}.json`` files — not a
    hand-maintained list, so it can't rot as rounds accumulate.  A row
    counts as coverage when it's fully green (rows+schema+hash) or a
    rows-only ``no_oracle`` check that produced a row count; a FAILED
    row keeps the query in the fresh tier so the driver rechecks it.
    """
    import json

    covered: set[str] = set()
    last_round = 0
    for n, path in _correctness_files():
        last_round = max(last_round, n)
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            rows_only = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green or rows_only:
                covered.add(name)
    return frozenset(covered), last_round + 1


def driver_order() -> dict[str, registry.Query]:
    """The registry ordered for the external driver, which verifies a
    bounded number of queries per round (observed budget: 50)
    iterating ``queries()`` in order.  Tiers:

      0. no prior driver row, oracle-backed      (registration order)
      1. no prior driver row, no oracle          (registration order)
      2. already driver-verified — ordered by a per-round deterministic
         shuffle, so the budget left after the fresh tiers re-verifies
         a DIFFERENT rotating sample of old queries each round instead
         of permanently shadowing them.
    """
    import zlib

    covered, round_no = _prior_driver_rows()

    def rank(item: tuple[str, registry.Query]) -> tuple[int, int]:
        name, q = item
        if name not in covered:
            # sort is stable: registration order holds within the tier
            return (0 if q.oracle else 1, 0)
        return (2, zlib.crc32(f"{name}|r{round_no}".encode()))

    return dict(sorted(registry.load_all().items(), key=rank))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in driver_order().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in driver_order().items() if q.oracle is not None
    }

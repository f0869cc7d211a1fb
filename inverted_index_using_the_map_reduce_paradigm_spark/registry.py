"""Query registry: the single source of truth for the engine surface.

Each operator registers a name, a Spark builder ``fn(spark, sf_dir) ->
DataFrame``, and (when SQL-expressible) a DuckDB oracle SQL string that
computes the same result on the same parquet tables.  ``__spark_entry__``
exposes this registry to the driver; the pytest parity harness iterates
it; ``bench.py`` times it.

Conventions (keep both sides of every oracle pair in sync):
  * every computed column is explicitly aliased, identically in Spark
    and SQL (driver hashes sort columns by name);
  * double-typed outputs are ``round(x, N)``-ed identically on both
    sides so cross-engine float noise cannot flip the value hash;
  * array outputs are serialized to strings (``concat_ws`` /
    ``array_to_string``) because array hashing differs across engines;
  * timestamps are compared as epoch seconds (bigint).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    description: str = ""
    bench: bool = True  # include in bench.py headline timings
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    bench: bool = True,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name, fn, oracle, description, bench, tags)
        return fn

    return deco


_LOADED = False


def load_all() -> dict[str, Query]:
    """Import every operator module so its @register calls run, and
    return the registry in registration order."""
    global _LOADED
    if not _LOADED:
        from .operators import (  # noqa: F401
            inverted_index,
            text_analysis,
            relational,
            temporal,
            similarity,
            pipeline,
            multimodal,
            dedup,
            training,
            census,
            html,
            tables,
            phash,
            audiohash,
            videohash,
        )
        from .streaming import engine  # noqa: F401

        _LOADED = True

    return dict(QUERIES)

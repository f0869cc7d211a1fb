"""The per-session read memo in ``data.py``: a warm read plans without
a Spark job and returns what a fresh read returns; a table rewritten in
place at the same path is resolved again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from inverted_index_using_the_map_reduce_paradigm_spark import data
from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
    stored_index_dir,
)
from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import lookup_term


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_warm_table_read_runs_no_job_and_matches_a_fresh_read(spark, sf_dir, count_jobs):
    for name in ("nation", "lineitem"):
        data.table(spark, sf_dir, name)
        warm, jobs = count_jobs(lambda: data.table(spark, sf_dir, name))
        assert jobs == 0, f"{name}: {jobs} jobs on a warm read"
        fresh = data._canon(spark.read.parquet(f"{sf_dir}/{name}.parquet"), name)
        assert warm.schema == fresh.schema, name
        assert _rows(warm) == _rows(fresh), name


def test_warm_lookup_term_runs_no_job_and_matches_a_fresh_read(spark, sf_dir, count_jobs):
    index_dir = stored_index_dir(spark, sf_dir, "flat")
    lookup_term(spark, index_dir, "the")
    warm, jobs = count_jobs(lambda: lookup_term(spark, index_dir, "the"))
    assert jobs == 0, f"{jobs} jobs on a warm lookup"
    fresh = spark.read.parquet(index_dir).filter(
        (F.col("letter") == "t") & (F.col("word") == "the")
    )
    assert warm.schema == fresh.schema
    got = _rows(warm)
    assert got and got == _rows(fresh)


def test_table_rewritten_in_place_is_resolved_again(spark, tmp_path):
    """Same path, other rows and a drifted ``o_orderdate`` type: the
    memo's fingerprint changes, so the new rows come back, and the
    ``_canon`` cast still lands the column as a timestamp."""
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderdate": pa.array([0, 86_400_000_000], pa.timestamp("us", tz="UTC")),
        }),
        path,
    )
    first = data.table(spark, sf, "orders")
    assert _rows(first.select("o_orderkey")) == [(1,), (2,)]

    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([7, 8, 9], pa.int64()),
            "o_orderdate": pa.array([1, 2, 3], pa.date32()),
        }),
        path,
    )
    again = data.table(spark, sf, "orders")
    assert dict(again.dtypes)["o_orderdate"] == "timestamp"
    got = again.select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd"))
    assert _rows(got) == [(7, "1970-01-02"), (8, "1970-01-03"), (9, "1970-01-04")]


def test_local_path_reads_are_memoised_uri_reads_are_not(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert data.read_parquet(spark, path) is data.read_parquet(spark, path)
    uri = f"file://{path}"
    first = data.read_parquet(spark, uri)
    assert first is not data.read_parquet(spark, uri)
    assert _rows(first) == [(1,), (2,)]

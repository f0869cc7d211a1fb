"""Fixture-table loaders.

All engine queries read the driver-generated parquet tables
(``TESTDATA.md``): region nation customer supplier part orders lineitem
events documents embeddings.  Reading through one helper keeps column
pruning / predicate pushdown visible in one place and lets callers stay
declarative.

Tables resolve once per session: the first ``table()`` (or
``read_parquet``) of a path infers its parquet schema, which runs Spark
jobs; later reads in the same session return the resolved DataFrame and
run none, until the files under the path change.  A query that reads a
table twice therefore gets the same DataFrame both times, so a self-join
must alias each side (``.alias("a")`` / ``.alias("b")``) before it refers
to a column of either.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fact tables get scan-side parallelism repair (below); dimension tables
# stay as-scanned — they are broadcast-joined everywhere, so extra
# partitions only add exchange overhead.
FACT_TABLES = frozenset({"lineitem", "orders", "events", "documents", "embeddings"})

# Corpus tables whose scan-fused consumers are CPU-heavy per row
# (tokenize, shingle, vector math): always split to the full core
# count — per-core work dominates per-file overhead by orders of
# magnitude.  The relational facts split by ROW count instead
# (ROWS_PER_SPLIT): their per-row work is columnar arithmetic, so wide
# splits only add per-task latency that AQE's stage orchestration
# amplifies — measured on tpch_q8 (6 broadcast stages): 32-way facts
# tripled the query (0.66 s -> 2.0 s) while q1-style single-scan
# aggregates gained 2-3x from width; 100k rows/split keeps most of
# q1's gain at a ~0.1 s q8 cost.  A table whose row count doesn't
# justify 2 splits scans the original file untouched — which is also
# the production shape: real small tables are few files.
CPU_HEAVY_TABLES = frozenset({"documents", "embeddings"})
ROWS_PER_SPLIT = 100_000


# Where the one-time multi-file rewrites of under-partitioned fixture
# tables live.  Gitignored (under spark-warehouse/); override for
# read-only checkouts.
_CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_FIXTURE_CACHE",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "spark-warehouse", "_fixture_cache"),
)

# (sf_dir, name, fingerprint, target) -> resolved scan path (original
# or cache).  The partition-count probe converts the plan to an RDD,
# which is not free — memoized; the CONTENT FINGERPRINT is part of the
# key (stat-level, microseconds per call) so a corpus mutated in place
# at the same path gets re-probed and re-cached instead of served the
# stale rewrite, and the core-count target is too so a later session
# with different parallelism doesn't reuse a stale answer.
_SCAN_PATH_MEMO: dict[tuple[str, str, str, int], str] = {}

# Resolved DataFrames of this session's parquet reads: ``table()`` keys
# its finished DataFrame on its ``_SCAN_PATH_MEMO`` key, ``read_parquet``
# on (path, path_fingerprint).  Schema inference runs jobs, so a table
# is resolved once and every later query reuses the analyzed plan.  An
# entry made by another session is replaced on the next read, so the
# memo holds one entry per (path, fingerprint) the session reads.
_READ_MEMO: dict[tuple, DataFrame] = {}


def _memoised(spark: SparkSession, key: tuple, resolve) -> DataFrame:
    df = _READ_MEMO.get(key)
    if df is None or df.sparkSession is not spark:
        df = _READ_MEMO[key] = resolve()
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` resolved once per session and per
    content fingerprint of the files under ``path`` (a rewrite in place
    is read afresh).  A URI such as ``hdfs://`` has no local files to
    fingerprint and is read afresh every time."""
    if "://" in path:
        return spark.read.parquet(path)
    return _memoised(
        spark, (path, path_fingerprint(path)), lambda: spark.read.parquet(path)
    )


def _fact_scan_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Resolve a fact table to a scan path with native parallelism.

    The driver-generated fixture parquet is ONE file with ONE row group,
    so the scan stage — and every narrow transformation fused onto it
    (tokenize, shingle, vector math) — would run on ONE core.  A
    RoundRobin ``repartition`` in the query plan would put a
    fixture-only Exchange into every plan and overstate the shuffle
    count of the 100 TB shape (a real multi-file table scans wide
    natively).  Instead, rewrite the table ONCE into a multi-file
    parquet cache keyed on the source fingerprint and core count, and
    scan the cache: the query plans carry no repair exchange at all.
    On a real multi-file table the probe sees enough splits and scans
    the original path directly.
    """
    target = spark.sparkContext.defaultParallelism
    fp = table_fingerprint(sf_dir, name)
    memo_key = (sf_dir, name, fp, target)
    cached = _SCAN_PATH_MEMO.get(memo_key)
    if cached is not None:
        return cached
    orig = f"{sf_dir}/{name}.parquet"
    if name in CPU_HEAVY_TABLES:
        n_files = target
    else:
        import glob as _glob

        import pyarrow.parquet as pq

        # footer-only row count; a table may be a single file or a
        # directory of part files (e.g. a Spark-written fixture copy)
        files = (
            sorted(_glob.glob(os.path.join(orig, "*.parquet")))
            if os.path.isdir(orig)
            else [orig]
        )
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        n_files = min(target, max(1, rows // ROWS_PER_SPLIT))
    if (
        n_files <= 1
        or spark.read.parquet(orig).rdd.getNumPartitions() >= n_files
    ):
        _SCAN_PATH_MEMO[memo_key] = orig
        return orig
    cache = os.path.join(_CACHE_ROOT, f"{name}-{fp}-p{n_files}.parquet")
    if not os.path.isfile(os.path.join(cache, "_SUCCESS")):
        import shutil
        import uuid

        tmp = f"{cache}.tmp-{uuid.uuid4().hex[:8]}"
        # Round-robin into `n_files` files so the cached scan yields
        # that many native splits; the shuffle happens once here, never
        # in query plans.  Atomic rename = safe under concurrent
        # builders.
        spark.read.parquet(orig).repartition(n_files).write.parquet(tmp)
        try:
            os.rename(tmp, cache)
        except OSError:  # lost the race: another process renamed first
            shutil.rmtree(tmp, ignore_errors=True)
    _SCAN_PATH_MEMO[memo_key] = cache
    return cache


def path_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file or directory: sha256
    over the sorted (relpath, size, mtime_ns) of the files under it.
    Stat-level, not a byte scan — O(#files) driver-side regardless of
    data size, which is the only fingerprint affordable at 100 TB;
    mtime_ns resolution makes a silent same-size-same-mtime rewrite
    practically impossible.  Caches keyed on it serve a path rewritten
    in place afresh instead of stale."""
    import hashlib

    h = hashlib.sha256()
    if os.path.isdir(path):
        for dirpath, _dirs, files in sorted(os.walk(path)):
            for fn in sorted(files):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                h.update(
                    f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns};".encode()
                )
    else:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def table_fingerprint(sf_dir: str, name: str) -> str:
    """``path_fingerprint`` of fixture table ``name``: the key of the
    per-process stored-index and fixture caches, so a corpus mutated in
    place at the same path gets a rebuilt index instead of a stale one."""
    return path_fingerprint(os.path.join(sf_dir, f"{name}.parquet"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``name``, with the ``_CANON`` types, resolved once
    per session and content fingerprint (see the module docstring)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # _canon branches on the events.ts type inferred under this
        # conf, and the scan reads the conf again when it executes, so
        # it is set on every read, memo hit or not
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def resolve() -> DataFrame:
        if name in FACT_TABLES:
            path = _fact_scan_path(spark, sf_dir, name)
        else:
            path = f"{sf_dir}/{name}.parquet"
        return _canon(spark.read.parquet(path), name)

    key = (sf_dir, name, table_fingerprint(sf_dir, name),
           spark.sparkContext.defaultParallelism)
    return _memoised(spark, key, resolve)


# Fixture generations have changed column physical types between rounds
# (events.ts: TIMESTAMP(NANOS) -> TIMESTAMP(MICROS)).  Pin the types the
# engine's expressions assume; the cast is a no-op (removed by Catalyst)
# when the scanned type already matches, so pushdown is unaffected on
# the happy path and correctness survives a drifted one.
_CANON: dict[str, dict[str, str]] = {
    "orders": {"o_orderdate": "timestamp"},
    "lineitem": {"l_shipdate": "timestamp"},
    "documents": {"doc_id": "bigint", "n_chars": "bigint"},
    "embeddings": {"vec_id": "bigint"},
}


def _canon(df: DataFrame, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some
        # fixture generations (Spark reads it as epoch-nanos long under
        # the legacy nanosAsLong conf) and TIMESTAMP(MICROS) NTZ in
        # others; branch on the dtype actually read so both land as a
        # session-UTC timestamp with identical instants.
        if df.schema["ts"].dataType.simpleString() == "bigint":
            return df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts div 1000 AS LONG))")
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    want = _CANON.get(name)
    if not want:
        return df
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    drifted = {c: t for c, t in want.items() if actual.get(c, t) != t}
    if not drifted:
        return df
    return df.withColumns({c: F.col(c).cast(t) for c, t in drifted.items()})


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage / pin a multi-consumer table, cluster-safely.

    Every iterative operator (connected components, PageRank, BPE) and
    every multi-consumer signature store needs its state materialized
    per round.  ``localCheckpoint`` is the right default on local[
    N] — no HDFS round-trip — but it stores blocks on executors ONLY,
    so an executor loss on a real cluster kills the job with no
    recompute path.  When the session has a reliable checkpoint
    directory configured (``sc.setCheckpointDir``), use the reliable
    ``checkpoint`` instead: blocks land in fault-tolerant storage and
    survive executor churn.  One switch, honored everywhere, so a
    cluster deployment flips ALL materialization sites at once.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)

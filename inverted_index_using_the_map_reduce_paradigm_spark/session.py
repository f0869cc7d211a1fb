"""SparkSession factory tuned for the engine.

Local mode for tests/bench; every setting is also the right default on a
real cluster (AQE, skew handling, partition coalescing, Arrow).  The
shuffle-partition count is sized to cores locally; on a 1000-executor
cluster AQE's coalescing makes the static number mostly irrelevant as
long as it is an upper bound, so we keep it configurable via
``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# One initial shuffle partition per this many input bytes.  16 MiB is a
# quarter of the guide's 64-128 MiB post-coalesce target (§2.2): start
# finer than the goal so AQE's coalescing (which can only MERGE, never
# split, non-skew partitions) has room to land on it, without starting
# hundreds of times too fine.
_BYTES_PER_INITIAL_PARTITION = 16 << 20

# Entries in Spark's cache of compiled generated classes (whole-stage
# codegen and projections).  The cache is an LRU keyed by the generated
# source, 100 entries by default, and the engine's plan working set is
# far larger.  Measured on a 4-core host (PySpark 4.1.2, JDK 17), each
# figure per pass over already-built DataFrames:
# * the 19 perfbench mix queries at sf0.01 recompile 250-254 classes on
#   every pass at 100 entries, and 0-10 at 4096 (2.9 -> 2.3 s per pass);
# * every registered query at sf0.001 compiles 2,859 distinct classes
#   (701 at build, 2,158 on the first run), so 4096 holds the registry;
#   the second run compiles 3,175 classes at 100 entries and 152 at 4096
#   (29.9 -> 22.8 s).
# A larger cache does not grow metaspace: after those two registry runs
# the JVM had loaded 48,584 classes and unloaded 5,166 at 100 entries,
# 40,568 and 206 at 4096, with metaspace at 254 and 246 MB.
CODEGEN_CACHE_ENTRIES = 4096

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_bytes(path: str) -> int:
    """Total bytes under ``path`` — a stat walk, O(#files) driver-side
    like data.table_fingerprint, never a data read.

    LOCAL filesystem only: a remote URI (``hdfs://``, ``s3a://``, …)
    cannot be os.walk'ed, so return -1 ("unknown") instead of a silent
    0 that would collapse the derived shuffle width to the core-count
    floor on exactly the deployments where the width matters.  ``file:``
    URIs are walkable after stripping the scheme."""
    if "://" in path:
        if path.startswith("file://"):
            path = path[len("file://"):]
        else:
            return -1
    elif path.startswith("file:"):
        path = path[len("file:"):]
    total = 0
    seen_any = False
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.stat(os.path.join(dirpath, fn)).st_size
            except OSError:
                continue
            seen_any = True
    if not seen_any:
        return -1  # nothing statable: unknown, NOT "zero bytes of data"
    return total


def initial_partitions(
    cpus: int, data_bytes: int | None = None, *, requested: int = 1
) -> int:
    """Scale-adaptive initial shuffle-partition count: the useful width
    of a shuffle tracks the data volume, not a constant.

    * One initial partition per 16 MiB of input, floored at the core
      count (never less parallel than the machine) and capped at 32x
      cores.  A fixed ``4 * cpus`` taxed every small-input query with
      4x more shuffle blocks than its data could fill: a 1M-row /
      1000-group aggregate read ~2.2 s at 128 initial partitions
      against ~1.1 s at 32 (32 cores), pure AQE-coalesce and block
      bookkeeping.  At bench scale the derived width (= cores) also beat
      4x cores on the explode-join queries: ``ngram_jaccard_dedup``
      0.97 s against 1.11 s, ``market_basket`` 1.64 s against 1.92 s
      (32 cores, interleaved A/B).
    * Input bytes understate what an explode-heavy shuffle carries
      (shingle and pair joins multiply volume 10-50x), so once the input
      is non-trivial (derived > cores) the result never sits below 4x
      cores.  That band is what ``ngram_jaccard_dedup`` needed at x256
      (70.5 s at 32 partitions against 44.4 s at 128, SCALE.md); the
      x256 corpus (2.6 GB) derives ~166 on its own.  A later x256
      run with the materialized shingle store did not reproduce that
      cliff, so the band is insurance, not a measured win: extra
      initial partitions cost bounded block bookkeeping.
    * When the data volume is unknown (a remote URI the stat walk cannot
      see, an empty or not-yet-generated directory) the result is
      ``4 * cpus``, never ``cpus``, and a note goes to stderr.
    * ``SPARK_GRAFT_INITIAL_PARTITIONS`` overrides all of this when
      benching partitioning itself and is used exactly as given.  Only
      the derived value floors at ``requested``, the caller's explicit
      shuffle width: with coalescing on, initialPartitionNum IS the
      effective width, so a bound derived from a different directory
      must not undercut it.

    Scripts that build their own larger corpora (scale_sweep) re-derive
    per multiplier via this function and set the runtime conf."""
    env = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    if env:
        try:
            v = int(env)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_INITIAL_PARTITIONS={env!r} is not an integer"
            ) from None
        if v < 1:
            raise ValueError(
                f"SPARK_GRAFT_INITIAL_PARTITIONS={env!r} must be >= 1 "
                "(it becomes spark.sql.adaptive.coalescePartitions."
                "initialPartitionNum, which requires a positive int)"
            )
        return v
    if data_bytes is None:
        from .data import DEFAULT_SF_DIR

        data_bytes = _dir_bytes(DEFAULT_SF_DIR)
    if data_bytes is None or data_bytes < 0:
        import sys

        print(
            "session: input volume unknown (remote URI or empty dir); "
            f"initialPartitionNum falls back to 4*cpus = {4 * cpus}",
            file=sys.stderr,
        )
        return max(4 * cpus, requested)
    derived = int(data_bytes) // _BYTES_PER_INITIAL_PARTITION
    if derived <= cpus:
        return max(cpus, requested)
    return max(int(min(max(4 * cpus, derived), 32 * cpus)), requested)


def _mem_total_bytes() -> int | None:
    """Physical memory from ``MemTotal`` in /proc/meminfo, or None where
    there is no such file."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def driver_memory(mem_total_bytes: int | None) -> str:
    """``spark.driver.memory`` for a host with ``mem_total_bytes`` of
    physical memory.

    In local mode the driver JVM is the only executor, so its heap is
    the engine's working memory, and it shares the host with the Python
    workers (about 410 MB of PSS in all at ``local[4]``) and the calling
    process.  The default is half of physical memory, at most 48 GiB:
    7.8 GiB on a 15.7 GiB host, above the 3-5 GB of tree PSS the 19-query
    perfbench mix shows, leaving the other half to the workers, the
    JVM's off-heap memory and the caller.  A fixed 48g default let the
    heap grow until the kernel OOM-killed the JVM on such a host
    (``anon-rss`` 14.7 GB).  Where physical memory is
    unknown the default is 4g.  ``SPARK_GRAFT_DRIVER_MEM`` overrides
    all of this and is used exactly as given."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    if not mem_total_bytes:
        return "4g"
    half_mib = mem_total_bytes >> 21
    return f"{min(half_mib, 48 << 10)}m"


def get_spark(app_name: str = "repo_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpu_count()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ---- planner / runtime re-optimization --------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ---- shuffle sizing --------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Data-derived initial bound (see initial_partitions): AQE's
        # coalescing can only merge partitions, so start from a high,
        # volume-derived width and let runtime decide the final ones.
        # It floors at the requested shuffle width (the CLI's
        # mappers/reducers contract).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions(cpus, requested=shuffle_partitions)),
        )
        # ---- python <-> jvm data path ----------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers start through the engine's daemon, which stops
        # every task from re-parsing Spark's unchanged zip and jar
        # archives (see pydaemon.py).  The daemon and the UDFs import
        # the package, so workers get its parent directory on their
        # path whatever the caller's cwd or PYTHONPATH.
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # InferFiltersFromGenerate synthesizes a ``size(arr) > 0`` filter
        # under every non-outer explode and pushes it below exchanges.
        # When the array comes from a Python UDF that inferred filter
        # carries a DUPLICATE evaluation of the UDF below the exchange
        # (a UDF's resultId defeats common-subexpression elimination), so
        # the shingle kernel ran TWICE over the corpus in the dedup
        # family's final plans.  The rule is optimization-only (empty
        # arrays explode to zero rows regardless); excluding it costs
        # nothing measurable on the expression-side explodes and removes
        # a full corpus-sized Arrow pass from the UDF-side ones.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # ---- pause tolerance ---------------------------------------------
        # In local mode the executor IS the driver JVM, so a long GC or
        # host pause makes the executor miss heartbeats and the
        # HeartbeatReceiver then kills the application's ONLY executor
        # (seen on the x256 sweep: 140-170 s freezes -> job death
        # mid-run).  The heartbeat carries no liveness signal
        # between threads of one process; raise the tolerance so a pause
        # degrades to slowness instead of job failure.  On a cluster
        # these are the standard long-GC-pause settings.
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "600s")
        # ---- determinism for oracle comparison -------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # ---- local-mode memory (driver == the one JVM) -----------------
        .config("spark.driver.memory", driver_memory(_mem_total_bytes()))
        # ---- compiled-class reuse ---------------------------------------
        # A static conf: it takes effect only when set before the first
        # session starts (see CODEGEN_CACHE_ENTRIES).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

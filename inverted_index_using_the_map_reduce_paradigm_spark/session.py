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

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_bytes(path: str) -> int:
    """Total bytes under ``path`` — a stat walk, O(#files) driver-side
    like data.table_fingerprint, never a data read.

    LOCAL filesystem only: a remote URI (``hdfs://``, ``s3a://``, …)
    cannot be os.walk'ed, so return -1 ("unknown") instead of a silent
    0 that would collapse the derived shuffle width to the core-count
    floor on exactly the deployments where the cliff matters (r14,
    VERDICT r13 item 2).  ``file:`` URIs are walkable after stripping
    the scheme."""
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
    """Scale-ADAPTIVE initial shuffle-partition count (r13 optimization
    round, guide §2.2 + §1.2): the useful width of a shuffle tracks the
    DATA VOLUME, not a constant.  The previous fixed ``4 * cpus`` was
    sized for the measured x256 cliff (ngram_jaccard_dedup: 70.5 s at
    32 partitions vs 44.4 s at 128 — per-partition join state outgrew
    the task) but taxed every small-input query with 4x more shuffle
    blocks than its data could fill — measured at bench scale: a plain
    1M-row/1000-group aggregate reads ~2.2 s with initialPartitionNum
    128 vs ~1.1 s at 32, pure AQE-coalesce and block bookkeeping
    overhead.  Derive it instead: one initial partition per 16 MiB of
    input, floored at the core count (never less parallel than the
    machine), capped at 32x cores (the same upper-bound role the old
    constant played, two decades higher).  The x256 corpus (2.6 GB)
    lands at ~166 >= the measured-needed 128, so the cliff protection
    is PRESERVED by derivation instead of by constant; scripts that
    build their own larger corpora (scale_sweep) re-derive per
    multiplier via this function and set the runtime conf.  Override
    with ``SPARK_GRAFT_INITIAL_PARTITIONS`` when benching partitioning
    itself: the explicit value is used exactly as given.  Only the
    DERIVED value floors at ``requested``, the caller's explicit
    shuffle width (with coalescing on, initialPartitionNum IS the
    effective width, so a bound derived from a different directory
    must not undercut it).

    r14 (VERDICT r13 items 1-2): the 32-core bench-scale derivation
    (= cores) was re-validated by an interleaved quiet-host A/B on the
    two explode-join queries the old constant protected —
    ngram_jaccard_dedup 0.97 s at 32 vs 1.11 s at 128, market_basket
    1.64 vs 1.92 (plans/r14/ab_initial_partitions_hot_queries.json) —
    so the driver's r13 32-core blowups were host-stall artifacts, not
    this bound.  When the data volume is UNKNOWN (remote URI the stat
    walk cannot see, empty or not-yet-generated directory) the floor is
    ``4 * cpus``, never ``cpus``: silently reinstating the x256 cliff
    on a cluster because os.walk returned nothing is exactly the
    failure mode the 100 TB posture exists to avoid.

    r14 expansion-awareness (precautionary): input bytes UNDERSTATE
    what an explode-heavy shuffle carries (shingle/pair joins multiply
    volume 10-50x), so once the input is non-trivial (derived > cores)
    the result never sits below 4x cores — the constant the historical
    x256 cliff measurement sized (SCALE.md r7: 70.5 s at 32 partitions
    vs 44.4 s at 128, pre-materialize query shape).  The r14 x256
    re-measurement could not REPRODUCE that cliff in the current
    materialized-store shape (52-vs-128 interleaved A/B reads 116 vs
    134 s with 2-3x within-arm host-phase spread — SCALE.md r14), so
    the floor is kept as cheap insurance, not as a measured win: extra
    initial partitions cost bounded block bookkeeping, the cliff's
    failure mode did not."""
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
        # unknown volume: the measured-safe constant floor — and say so
        # (ADVICE r13: the silent degradation was the bug, not the
        # fallback itself)
        import sys

        print(
            "session: input volume unknown (remote URI or empty dir); "
            f"initialPartitionNum falls back to 4*cpus = {4 * cpus}",
            file=sys.stderr,
        )
        return max(4 * cpus, requested)
    derived = int(data_bytes) // _BYTES_PER_INITIAL_PARTITION
    if derived <= cpus:
        # small input: the A/B-validated bench-scale value
        return max(cpus, requested)
    # non-trivial input: never below the 4x-cores cliff band (see the
    # x256 measurements in the docstring)
    return max(int(min(max(4 * cpus, derived), 32 * cpus)), requested)


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
        # Scale-adaptive initial bound (r13): derived from the input
        # volume under $SPARK_GRAFT_SF_DIR — one initial partition per
        # 16 MiB, floored at cores, capped at 32x cores — instead of
        # the previous fixed 4x cores.  See initial_partitions() for
        # the measurements on both sides (the x256 ngram_jaccard cliff
        # that sets the upper need, and the small-input AQE-coalesce
        # overhead that the constant was taxing).  On a real cluster
        # this is the same recommended AQE posture: a high,
        # DATA-DERIVED initial bound; runtime decides the final widths.
        # The derived bound floors at the requested shuffle width (the
        # CLI's mappers/reducers contract); an explicit
        # SPARK_GRAFT_INITIAL_PARTITIONS is used as given.
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
        # ---- pause tolerance (r14) --------------------------------------
        # In local mode the executor IS the driver JVM, so a long GC or
        # host pause makes the executor miss heartbeats and the
        # HeartbeatReceiver then kills the application's ONLY executor —
        # observed twice on the x256 sweep (140-170 s freezes -> job
        # death mid-run).  The heartbeat carries no liveness signal
        # between threads of one process; raise the tolerance so a pause
        # degrades to slowness instead of job failure.  On a cluster
        # these are the standard long-GC-pause settings.
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "600s")
        # ---- determinism for oracle comparison -------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # ---- local-mode memory (driver == the one JVM) -----------------
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

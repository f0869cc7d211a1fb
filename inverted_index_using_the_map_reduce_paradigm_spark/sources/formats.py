"""Uniform source/sink surface over Spark's file formats.

The reference reads exactly one format — manifest-listed plain text
(``/root/reference/main.c++:87-98,307-352``, covered by
``sources/manifest.py``) — and writes one — the 26 letter files
(``sources/sinks.py``).  A drop-in engine needs the standard
interchange formats too; this module is the thin, opinionated wrapper:

  * **schemas are always explicit** for text-ish formats — ``inferSchema``
    is a full extra pass over the data (unacceptable at 100 TB) and
    type-guesses per file, so CSV/JSON without a schema is an error
    here, not a default;
  * **reads are splittable or loudly not**: parquet/orc split per
    row-group for free; uncompressed/bzip2 CSV and line-delimited JSON
    split per block; a gzip input is ONE task regardless of size — the
    classic silent scale killer, so ``read_table`` warns on it;
  * **writes partition** via ``partition_by`` so downstream scans prune.

Everything funnels through the ordinary ``DataFrameReader/Writer`` —
Catalyst sees a plain relation and pushdown/pruning work identically
across formats.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# "avro" rides the same wrapper (self-describing, block-splittable).
# Spark ships it as the EXTERNAL spark-avro module — absent in this
# sandbox (no network to fetch the jar) — so when avro_available()
# says the JVM source is missing, read_table/write_table route the
# format through the pure-Python OCF DataSource instead
# (sources/avro_source.py, spec-correct and cross-validated against
# the bundled org.apache.avro reference library), r12 closing the
# last format gap.  On a real deployment add
# org.apache.spark:spark-avro_2.13:<spark-version> to
# spark.jars.packages and the JVM path is used unchanged.
# "xml" is BUILT IN since Spark 4.0 (spark-xml was upstreamed); it is
# schema-required here like csv/json (inference is an extra pass) and
# needs a rowTag option on both read and write.
FORMATS = ("parquet", "orc", "csv", "json", "text", "avro", "xml")
_SELF_DESCRIBING = ("parquet", "orc", "avro")


def avro_available(spark: SparkSession) -> bool:
    """True iff the external spark-avro data source is deployed —
    probed through Spark's own ``DataSource.lookupDataSource`` (the
    check the reader/writer performs), because a bare classloader
    probe lies here: this distribution bundles some
    ``org.apache.spark.sql.avro`` classes without registering the
    data source, so ``Class.forName`` finds a class the reader can't
    use.  No write attempt, no side effects."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def read_table(
    spark: SparkSession,
    path: str | list[str],
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    """Read ``path`` as ``fmt`` with an explicit schema where required.

    CSV defaults: ``header=true`` (ignored when a schema names the
    columns), ``mode=FAILFAST`` — silently null-ing malformed rows
    (Spark's default PERMISSIVE) corrupts a training corpus without a
    trace, so corrupt input fails the job unless the caller opts into
    ``mode=PERMISSIVE`` plus a ``columnNameOfCorruptRecord`` quarantine
    column.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt not in _SELF_DESCRIBING and fmt != "text" and schema is None:
        raise ValueError(
            f"{fmt} requires an explicit schema: inferSchema is an extra "
            "full pass over the input and per-file type guessing"
        )
    paths = [path] if isinstance(path, str) else list(path)
    if any(str(p).endswith(".gz") for p in paths):
        warnings.warn(
            "gzip input is not splittable: each .gz file is a single task "
            "regardless of size; prefer uncompressed, bzip2, or parquet",
            stacklevel=2,
        )
    if fmt == "avro" and not avro_available(spark):
        from .avro_source import AvroDataSource

        spark.dataSource.register(AvroDataSource)
        if len(paths) != 1:
            raise ValueError("python avro fallback reads one directory")
        r = spark.read.format("avro_py").option("path", paths[0])
        if schema is not None:
            r = r.schema(schema)
        for k, v in options.items():
            r = r.option(k, v)
        return r.load()
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
        reader = reader.option("mode", options.pop("mode", "FAILFAST"))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(paths if len(paths) > 1 else paths[0])


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    **options,
) -> None:
    """Write ``df`` as ``fmt``, optionally hive-partitioned.

    Text sink quirk: Spark's text writer takes exactly one string
    column (plus partition columns) — the caller formats the line.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt == "avro" and not avro_available(df.sparkSession):
        if partition_by:
            raise NotImplementedError(
                "python avro fallback does not hive-partition; deploy"
                " spark-avro or partition at the directory level"
            )
        from .avro_source import AvroDataSource

        df.sparkSession.dataSource.register(AvroDataSource)
        w = df.write.format("avro_py").option("path", path).mode(mode)
        for k, v in options.items():
            w = w.option(k, v)
        w.save()
        return
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)

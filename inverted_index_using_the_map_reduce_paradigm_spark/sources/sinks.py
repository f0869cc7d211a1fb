"""Reference-native output sink (SURVEY.md §7 step 2).

The reference writes 26 text files ``a.txt`` … ``z.txt`` (all created
even when empty, main.c++:231-233), one ``word:[d1 d2 … dn]`` line per
word (main.c++:254-266), rows ordered (doc_freq DESC, word ASC) within
each file (main.c++:37-44,236) and postings ascending (main.c++:239-252).

Spark-side everything stays distributed: one exchange partitions by
letter, a within-partition sort fixes the row order, and a narrow
``mapInArrow`` writes each letter's run straight to ``<letter>.txt``
from the task that holds it (temp file + atomic rename).  The driver
only clears ``out_dir`` before the write, checks that no letter came
from two tasks, and creates the empty files of absent letters.  Tasks
write with plain POSIX file calls, so ``out_dir`` is a local path (or a
filesystem every executor mounts at the same path), like the
reference's working directory.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import string
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data import read_parquet


def write_letter_index(formatted: DataFrame, out_dir: str) -> None:
    """``formatted`` is operators.inverted_index.formatted_index output
    (word, postings, doc_freq, letter, line).

    repartition by letter (26 tiny partitions at any scale — a letter
    file is the unit of output, and per-letter files must be ordered,
    so this exchange is semantically required, same as the reference's
    bucket mutex stage); sortWithinPartitions puts every letter's rows
    in reference order inside its single task run.
    """
    write_letter_files(
        formatted.repartition("letter").sortWithinPartitions(
            "letter", F.desc("doc_freq"), F.asc("word")
        ),
        out_dir,
    )


def write_letter_index_segmented(segmented: DataFrame, out_dir: str) -> None:
    """Letter-file sink over a SEGMENTED index
    (``operators.inverted_index.build_segmented_index`` output: word,
    segment_id, postings ['d1 d2 …' per segment], doc_freq) — the
    bounded-state path for head words.

    The flat sink needs each word's full posting array in one
    aggregation buffer; here segments stay bounded end to end: rows
    are letter-partitioned and sorted (doc_freq DESC, word ASC,
    segment_id ASC) — the reference's file order (main.c++:37-44) with
    segments contiguous per word — and a streaming mapInPandas
    concatenates consecutive segments into one ``word:[…]`` line.
    Peak memory is ONE line (the word currently being assembled), not
    one hash-agg entry per word, so a word posted in every document of
    a 100 TB corpus streams through; the final line string itself is
    the only unavoidable allocation (it IS the output format).
    Ordering survives because mapInPandas and the letter-file writer
    are narrow (no exchange between the sort and the files).
    """
    import pandas as pd

    seg = segmented.withColumn("letter", F.substring("word", 1, 1))
    ordered = seg.repartition("letter").sortWithinPartitions(
        "letter", F.desc("doc_freq"), F.asc("word"), F.asc("segment_id")
    ).select("letter", "word", "postings")

    def concat_stream(batches):
        cur = None  # (letter, word) being assembled
        parts: list[str] = []
        lines: list[str] = []
        letters: list[str] = []

        def flush_word():
            if cur is not None:
                lines.append(f"{cur[1]}:[{' '.join(parts)}]")
                letters.append(cur[0])
            parts.clear()

        for pdf in batches:
            for letter, word, postings in zip(
                pdf["letter"], pdf["word"], pdf["postings"]
            ):
                if cur != (letter, word):
                    flush_word()
                    cur = (letter, word)
                parts.append(postings)
            if lines:  # emit completed lines; keep the open word buffered
                yield pd.DataFrame({"letter": letters, "line": lines})
                lines, letters = [], []

        flush_word()
        if lines:
            yield pd.DataFrame({"letter": letters, "line": lines})

    write_letter_files(
        ordered.mapInPandas(concat_stream, schema="letter string, line string"),
        out_dir,
    )


def write_letter_files(ordered: DataFrame, out_dir: str) -> None:
    """Write (letter, line) rows as the reference's 26 letter files.

    ``ordered`` must hold each letter in ONE partition, its rows
    contiguous and in file order (``repartition("letter")`` +
    ``sortWithinPartitions``).  Each task writes every letter run it
    holds to ``.<letter>.txt.<task attempt>.tmp`` and renames it to
    ``<letter>.txt``, so a retried attempt never interleaves with a
    failed one, and reports one (letter, lines) row per file.  A letter
    reported by two tasks means the partitioning contract broke: the
    two files replaced each other, so the write raises instead of
    keeping either.  ``out_dir`` is replaced, as an overwrite sink
    would.
    """
    import pyarrow as pa

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    schema = pa.schema([("letter", pa.string()), ("lines", pa.int64())])

    def write_runs(batches):
        from pyspark import TaskContext

        attempt = TaskContext.get().taskAttemptId()
        done_letters: list[str] = []
        done_lines: list[int] = []
        cur, out, n = None, None, 0

        def finish():
            out.close()
            os.replace(out.name, os.path.join(out_dir, f"{cur}.txt"))
            done_letters.append(cur)
            done_lines.append(n)

        try:
            for batch in batches:
                letters = batch.column("letter").to_pylist()
                lines = batch.column("line").to_pylist()
                start = 0
                for letter, run in itertools.groupby(letters):
                    stop = start + sum(1 for _ in run)
                    if letter != cur:
                        if out is not None:
                            finish()
                        cur, n = letter, 0
                        out = open(
                            os.path.join(out_dir, f".{cur}.txt.{attempt}.tmp"),
                            "w",
                            encoding="utf-8",
                            newline="",
                        )
                    out.write("\n".join(lines[start:stop]) + "\n")
                    n += stop - start
                    start = stop
            if out is not None:
                finish()
        finally:
            if out is not None:
                out.close()
        yield pa.RecordBatch.from_pydict(
            {"letter": done_letters, "lines": done_lines}, schema=schema
        )

    try:
        reported = Counter(
            r.letter
            for r in ordered.select("letter", "line")
            .mapInArrow(write_runs, "letter string, lines long")
            .collect()
        )
    finally:
        for tmp in glob.glob(os.path.join(out_dir, ".*.tmp")):
            os.remove(tmp)
    split = sorted(letter for letter, tasks in reported.items() if tasks > 1)
    if split:
        raise ValueError(
            f"letters {split} were written by more than one task; the "
            "reference layout requires one task per letter (write the "
            "sink with repartition('letter')) so file order is row order"
        )
    collect_reference_layout(out_dir)


def write_parquet_index(index: DataFrame, out_dir: str) -> None:
    """Columnar stored form of the inverted index, partitioned by letter.

    ``index`` is ``operators.inverted_index.build_index`` output.  The
    letter partition key is the reference's 26-bucket layout (main.c++:
    184,302) carried into storage: a term lookup prunes to one
    partition directory, and posting lists stay columnar (parquet
    nested arrays) instead of the reference's text lines.
    """
    (
        index.repartition("letter")
        .sortWithinPartitions(F.desc("doc_freq"), F.asc("word"))
        .write.mode("overwrite")
        .partitionBy("letter")
        .parquet(out_dir)
    )


def lookup_term(spark, index_dir: str, term: str) -> DataFrame:
    """Posting-list lookup against the stored index.  The redundant
    letter predicate makes partition pruning explicit in the plan
    (PartitionFilters: letter = substr(term,1,1)); the word predicate
    pushes into the parquet scan of that one directory.  The index is
    resolved once per session (``data.read_parquet``), so a repeated
    lookup plans without a Spark job."""
    idx = read_parquet(spark, index_dir)
    return idx.filter(
        (F.col("letter") == term[:1]) & (F.col("word") == term)
    )


def write_bucketed(
    df: DataFrame, table_name: str, key: str, n_buckets: int = 32, path: str | None = None
) -> None:
    """Persist a table bucketed (and bucket-sorted) on its join key.

    Bucketing is the storage-level answer to repeated fact-fact joins
    at 100 TB: two tables bucketed on the same key with the same bucket
    count join with NO exchange on either side (see
    tests/test_plan_quality.py::test_bucketed_join_has_no_exchange) —
    the shuffle is paid once at write time instead of per query.
    Bucket metadata lives in the catalog, so the write is
    ``saveAsTable``; pass ``path`` to make it an external table instead
    of landing in the session warehouse directory.
    """
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_range_layout(
    df: DataFrame, path: str, key: str, n_files: int = 8
) -> None:
    """Persist a table range-partitioned AND sorted on ``key`` so every
    output file covers a disjoint key range.

    This is the file-skipping layout for predicate-heavy scans at
    100 TB: parquet stores per-file / per-row-group min-max stats, and a
    pushed ``key`` predicate then prunes whole files before any IO —
    the time-series analogue of the letter-partitioned index (which
    prunes by directory instead).  ``repartitionByRange`` samples the
    key distribution, so files stay balanced under skew where a naive
    hash layout would interleave ranges and defeat the stats.
    tests/test_formats.py asserts the written footers really are
    disjoint.
    """
    (
        df.repartitionByRange(n_files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def collect_reference_layout(out_dir: str) -> None:
    """Complete the reference's exact layout in ``out_dir``: a
    ``<letter>.txt`` for every letter a-z.  The letter-file writer
    already wrote every letter that has words; an absent letter gets an
    empty file, and a file that exists is left intact.  Idempotent."""
    for letter in string.ascii_lowercase:
        open(os.path.join(out_dir, f"{letter}.txt"), "ab").close()


ZORDER_BITS = 8  # quantization per dimension: 256 cells — plenty for
# file-level skipping (files per dimension << 256 at any sane layout)


def write_zorder_layout(
    df: DataFrame, path: str, cols: list[str], n_files: int = 8
) -> None:
    """Persist a table Z-ORDER clustered on several columns so EVERY
    listed column gets usable per-file min-max stats.

    A single-column sort (``write_range_layout``) gives perfect file
    skipping on one key and none on the others — each file spans the
    full range of every secondary column.  Interleaving the bits of
    the quantized columns (Morton code) and range-partitioning on the
    interleave gives each file a contiguous curve segment, i.e. a
    small hyper-rectangle of the key space: every listed column's
    per-file range shrinks to roughly range^(1/d), so a pushed
    predicate on ANY of them prunes files.  This is the layout trick
    behind lakehouse OPTIMIZE ZORDER, expressed with stock DataFrame
    ops: per-column min/max (one tiny broadcast), bit interleave in a
    single projection, ``repartitionByRange`` + within-partition sort
    on the code.  tests/test_formats.py measures the per-file range
    shrinkage against the single-sort layout."""
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_mx_{c}") for c in cols],
    )
    n_dims = len(cols)
    quantized = df.crossJoin(F.broadcast(stats))
    morton = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = F.col(f"_mn_{c}"), F.col(f"_mx_{c}")
        q = F.when(
            mx > mn,
            F.floor(
                (F.col(c).cast("double") - mn)
                / (mx - mn)
                * F.lit((1 << ZORDER_BITS) - 1)
            ),
        ).otherwise(F.lit(0)).cast("long")
        for bit in range(ZORDER_BITS):
            morton = morton + F.shiftleft(
                F.shiftright(q, bit).bitwiseAND(F.lit(1)),
                bit * n_dims + ci,
            )
    (
        quantized.withColumn("_z", morton)
        .select(*df.columns, "_z")
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# --------------------------------------------------------------------------
# Per-file bloom sidecar: data skipping BELOW the letter partition level
# --------------------------------------------------------------------------

# Letter partitioning prunes a term lookup to one directory, but at
# 100 TB a letter directory holds thousands of files; the bloom sidecar
# skips files WITHIN the directory.  One sidecar row per data file
# carries the set of occupied bit positions of a k-hash bloom over the
# file's words — stored sparse (int array) because the per-file
# vocabulary is far below the bit width, which also makes membership a
# plain array_contains conjunction.  The sidecar is metadata-sized
# (KBs per file), the same class of artifact as parquet footers.
BLOOM_BITS = 8192
BLOOM_HASHES = 3


def bloom_positions(col: F.Column) -> list[F.Column]:
    """The k bit positions of a word — xxhash64 with k distinct literal
    salts, reduced mod the bit width.  Computed identically at build
    and probe time, JVM-side both times."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(BLOOM_BITS)).cast("int")
        for i in range(BLOOM_HASHES)
    ]


def write_bloom_sidecar(spark, index_dir: str) -> str:
    """Build the per-file word bloom for a stored parquet index: one
    scan of the index's word column tagged with ``input_file_name``,
    exploded to bit positions, set-aggregated per file.  Returns the
    sidecar directory (``<index_dir>_bloom``)."""
    idx = (
        spark.read.parquet(index_dir)
        .select("word")
        .withColumn("file", F.input_file_name())
    )
    bits = idx.select(
        "file", F.explode(F.array(*bloom_positions(F.col("word")))).alias("bit")
    )
    sidecar = bits.groupBy("file").agg(F.collect_set("bit").alias("bits"))
    out = index_dir.rstrip("/") + "_bloom"
    sidecar.coalesce(1).write.mode("overwrite").parquet(out)
    return out


def bloom_candidate_files(spark, sidecar_dir: str, term: str) -> list[str]:
    """Files that MIGHT contain ``term`` — every file whose bloom has
    all k of the term's bit positions set.  No false negatives by
    construction (build and probe share ``bloom_positions``); false
    positives only cost a wasted file read.  The collect is
    sidecar-sized (one row per candidate FILE, not per row)."""
    side = read_parquet(spark, sidecar_dir)
    cond = F.lit(True)
    for p in bloom_positions(F.lit(term)):
        cond = cond & F.array_contains("bits", p)
    return sorted(r.file for r in side.filter(cond).select("file").collect())


def bloom_pruned_lookup(spark, index_dir: str, sidecar_dir: str,
                        term: str) -> DataFrame:
    """Term lookup reading ONLY the bloom-candidate files.  basePath
    keeps the letter partition column alive on the direct file read;
    the word predicate still pushes into each candidate's scan.  The
    only Spark job at build is the sidecar collect."""
    # partition pruning composes with bloom skipping: the letter
    # predicate is applied to the candidate PATHS (what Catalyst's
    # PartitionFilters would do), so a bloom false positive in another
    # letter directory never costs a read
    files = [
        f
        for f in bloom_candidate_files(spark, sidecar_dir, term)
        if f"/letter={term[:1]}/" in f
    ]
    # the stored index's schema (resolved once per session) spares the
    # candidate read its schema-inference job
    schema = read_parquet(spark, index_dir).schema
    if not files:
        return spark.createDataFrame([], schema).filter(F.col("word") == term)
    return (
        spark.read.option("basePath", index_dir)
        .schema(schema)
        .parquet(*files)
        .filter(F.col("word") == term)
    )

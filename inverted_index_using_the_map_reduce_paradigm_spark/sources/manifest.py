"""Reference-native manifest ingestion (SURVEY.md §7 step 2).

The reference's input is a master file whose first line is the corpus
file count N followed by N file paths (``/root/reference/main.c++:
307-352``, CR/LF stripped); each corpus file is plain text read line by
line (main.c++:87-98) and doc ids are the **1-based** manifest
positions (main.c++:74-77).

The manifest itself is a tiny control file, so it is read driver-side
(exactly like the reference's main()).  The corpus files are read one
of two ways, chosen per file from its path scheme and size:

* Whole-file rows of local files (``wholetext=True``, and the files at
  or under ``WHOLETEXT_MAX_BYTES`` of ``wholetext="auto"``) are read
  inside the tasks, as the reference's mappers open their own files:
  the driver turns the manifest into a ``LocalRelation`` of
  ``(doc_id, path)`` rows and a narrow ``mapInArrow`` opens each file
  and emits its exact bytes.  No file listing, no Hadoop reader, no
  join.  Tasks open files with plain POSIX calls, so every such
  manifest path must be readable at the same path on every executor
  (the rule ``sinks.write_letter_files`` states for ``out_dir``).
* Line rows (``wholetext=False``), larger files and paths with a
  non-``file`` scheme (``hdfs://``, ``s3a://``) go through Spark's text
  source in ONE multi-path scan, and doc ids are recovered by joining
  ``input_file_name()`` against a broadcast path->id map.
"""

from __future__ import annotations

import functools
import itertools
import os
import re
import stat

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_manifest_paths(manifest_path: str) -> list[str]:
    """Parse the reference's master-file format: line 1 = N, then N paths
    (whitespace/CR stripped, per main.c++:330-351)."""
    with open(manifest_path) as f:
        n = int(f.readline().strip())
        paths = [f.readline().strip() for _ in range(n)]
    for p in paths:
        if not p:
            raise ValueError(f"manifest {manifest_path} shorter than its count {n}")
    return paths


# Above this size a corpus file no longer rides the whole-file task
# read: a whole-file row must fit one task (and a JVM string caps at
# ~2 GiB), so ``wholetext="auto"`` reads oversized files line-wise —
# Hadoop splits them into maxPartitionBytes chunks and a multi-GiB
# document parallelizes across tasks instead of OOMing one.
WHOLETEXT_MAX_BYTES = 256 * 2**20

# Bytes a task-side reader gathers into one output Arrow batch before
# handing it on (a larger file goes out alone).
_BATCH_BYTES = 4 << 20

_SCHEME = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")


def read_corpus(
    spark: SparkSession,
    manifest_path: str,
    validate: bool = False,
    wholetext: bool | str = False,
    doc_level: bool = False,
) -> DataFrame:
    """documents-shaped DataFrame (doc_id, text) from a reference manifest.

    doc_id is the 1-based manifest position; one row per corpus LINE
    (the engine's tokenizer explodes lines exactly like the reference's
    getline loop, so line vs whole-file granularity is immaterial
    downstream of tokenization).  Empty (0-byte) files yield no row.

    ``wholetext=True`` reads one row per FILE instead (same downstream
    semantics, since the tokenizer splits on newlines anyway).  This is
    the right granularity for the Arrow bulk tokenizer: per-row Python
    overhead is paid per document, not per line — at 8 GiB that is
    5000 rows instead of ~450 M.  Each file must then fit one task's
    memory; documents do (they are bounded), arbitrary concatenated
    logs may not — hence opt-in.  Local files are read inside the tasks
    (module docstring): ``text`` carries each file's exact bytes, the
    same bytes Spark's wholetext reader yields, with no decode, and a
    file named ``_x`` or ``.x`` is read like any other.  The driver
    orders the ``(doc_id, path)`` rows by ``slice_plan`` so each task
    reads a near-equal byte share.  Local files over
    ``WHOLETEXT_MAX_BYTES`` and non-``file`` schemes use Spark's
    wholetext scan.

    ``wholetext="auto"`` routes each file by SIZE: files over
    ``WHOLETEXT_MAX_BYTES`` go through the splittable line-wise scan (a
    multi-GiB document parallelizes across its Hadoop splits and never
    materializes as one row), the rest are read whole as above; the
    parts union into one frame.

    OUTPUT CONTRACT under ``"auto"``: an oversized document yields
    MULTIPLE rows sharing one doc_id.  That is equivalent for any
    consumer that aggregates per-doc DISTINCT over tokens (posting
    lists — ``formatted_index`` documents its tolerance of
    line-grained rows), and WRONG for any doc-level consumer
    (length/quality stats, whole-text dedup), which would silently
    treat each fragment as a document.  Doc-level consumers pass
    ``doc_level=True`` (requires ``wholetext="auto"``): the oversized
    files' line rows are re-glued into one row per doc — ordered by
    ``input_file_block_start()`` then a per-task monotonic id, so the
    shuffle-surviving sort key IS the file offset order — with the
    trailing newline restored from a driver-side 1-byte probe, making
    the output byte-identical to the pure wholetext read.  The glue
    step deliberately gives back the skew-safety for those files (one
    task holds the whole document again, as any doc-level consumer
    must); the corpus still SCANS in parallel and only the few
    oversized docs pay the single-task concat.

    ``input_file_name()`` returns a percent-encoded file URI, so the
    Spark scans decode it (``_decoded_path``) before joining against
    the driver-side paths — otherwise a manifest path containing a
    space (or any URI-escaped char) would silently drop every line of
    that document.

    ``validate=True`` adds a loud check that every manifest entry can
    surface, reading no data.  Files read in the tasks are checked with
    a driver-side ``stat``: a missing or non-regular path raises,
    naming up to 5 of them (a task that cannot open a file raises
    too).  Files the Spark scans read are checked against the scans'
    own file listing (``DataFrame.inputFiles()``, the same strings
    ``input_file_name()`` yields) after the same decode: every listed
    non-empty file yields at least one row.  Spark's listing skips
    names starting with ``_`` or ``.``, so in line mode such manifest
    entries fail the check.  The CLI and tests enable it.
    """
    if doc_level and wholetext != "auto":
        raise ValueError(
            "doc_level=True is the auto-split re-aggregation contract; "
            "wholetext=True/False already yields doc/line rows directly"
        )
    paths = read_manifest_paths(manifest_path)
    # (doc_id, key, local path or None); the key is what a Spark scan's
    # decoded input_file_name() yields for the file
    entries = []
    for doc_id, p in enumerate(paths, 1):
        local = _local_path(p)
        entries.append((doc_id, p if local is None else local, local))
    if not wholetext:
        read_paths = sorted({os.path.dirname(key) for _, key, _ in entries})
        # Passing N explicit paths makes the DataSource glob-qualify each
        # one driver-side — measured ~10 s for 5000 paths vs ~0.1 s to
        # list their parent DIRECTORY.  The doc_id join keeps only rows
        # whose file is IN the manifest, so when the manifest's files
        # cluster into few directories (the reference's layout), reading
        # those directories is semantically identical; scattered
        # manifests keep the explicit list.  Extra non-manifest files in
        # a shared directory cost scan bytes only, and ``validate``
        # checks every manifest entry surfaced.
        if len(read_paths) * 10 > len(paths):
            read_paths = [key for _, key, _ in entries]
        return _join_ids(
            spark, manifest_path, entries, _scan(spark, read_paths, False), validate
        )

    task: list[tuple[int, str, int]] = []
    rest, bad = [], []
    for entry in entries:
        doc_id, _, local = entry
        if local is None:
            rest.append(entry)
            continue
        try:
            st = os.stat(local)
        except OSError:
            st = None
        if st is not None and st.st_size > WHOLETEXT_MAX_BYTES:
            rest.append(entry)
            continue
        if st is None or not stat.S_ISREG(st.st_mode):
            bad.append(local)  # kept, so the task that opens it raises
        task.append((doc_id, local, st.st_size if st else 0))
    if validate and bad:
        raise RuntimeError(
            f"manifest {manifest_path}: {len(bad)} paths are missing or not "
            f"regular files: {bad[:5]}"
        )
    parts = []
    if rest:
        parts.append(
            _scan_rest(spark, manifest_path, rest, wholetext, doc_level, validate)
        )
    if task or not parts:
        parts.append(_read_in_tasks(spark, task))
    return functools.reduce(DataFrame.unionByName, parts)


def slice_plan(sizes: list[int], slices: int) -> list[list[int]]:
    """Which files each task reads: the indexes of ``sizes``, dealt into
    ``min(len(sizes), slices)`` groups of near-equal bytes.

    ``LocalTableScan`` cuts its rows into contiguous slices of equal
    count (slice i holds rows ``[i*n//k, (i+1)*n//k)``), so the groups
    keep exactly those counts and the relation lists them in order.  A
    snake deal of the size-sorted files (groups 0..k-1, then k-1..0, and
    so on, skipping full groups) balances the bytes.
    """
    n = len(sizes)
    k = min(n, slices)
    room = [(i + 1) * n // k - i * n // k for i in range(k)]
    groups: list[list[int]] = [[] for _ in range(k)]
    lanes = itertools.cycle([*range(k), *range(k - 1, -1, -1)])
    for i in sorted(range(n), key=lambda i: -sizes[i]):
        lane = next(lanes)
        while len(groups[lane]) == room[lane]:
            lane = next(lanes)
        groups[lane].append(i)
    return groups


def _read_in_tasks(
    spark: SparkSession, files: list[tuple[int, str, int]]
) -> DataFrame:
    """(doc_id, text) of local ``(doc_id, path, size)`` files, each read
    whole inside a task.  ``text`` is the file's bytes viewed as a string
    (no decode, so invalid UTF-8 passes through as in Spark's wholetext
    scan).  A task holds at most one file and one output batch."""
    import pyarrow as pa

    slices = int(
        spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    order = [i for g in slice_plan([f[2] for f in files], slices) for i in g]
    # pandas + Arrow makes the relation a LocalRelation: no Python RDD
    # and no Spark job to build it
    rel = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [files[i][0] for i in order],
                "path": [files[i][1] for i in order],
            }
        ),
        "doc_id long, path string",
    )
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

    def read_files(batches):
        ids: list[int] = []
        texts: list[bytes] = []
        held = 0

        def batch():
            text = pa.array(texts, pa.binary()).view(pa.string())
            return pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), text], schema=schema
            )

        for b in batches:
            paths = b.column("path").to_pylist()
            for doc_id, path in zip(b.column("doc_id").to_pylist(), paths):
                with open(path, "rb") as f:
                    data = f.read()
                if not data:
                    continue  # an empty file yields no row, as in Spark's scan
                if held and held + len(data) > _BATCH_BYTES:
                    yield batch()
                    ids, texts, held = [], [], 0
                ids.append(doc_id)
                texts.append(data)
                held += len(data)
        if ids:
            yield batch()

    return rel.mapInArrow(read_files, "doc_id long, text string")


def _scan_rest(
    spark: SparkSession,
    manifest_path: str,
    entries: list,
    wholetext: bool | str,
    doc_level: bool,
    validate: bool,
) -> DataFrame:
    """Spark-scan the ``(doc_id, key, local)`` files the tasks do not
    read: oversized and remote files, whole or, under ``"auto"``,
    oversized ones line-wise.  Both branches pass EXPLICIT path lists
    (a parent-directory listing would re-read the big files in the
    wholetext branch)."""
    big = set()
    if wholetext == "auto":
        big = {
            key
            for _, key, local in entries
            if _size(spark, key, local) > WHOLETEXT_MAX_BYTES
        }
    whole = [key for _, key, _ in entries if key not in big]
    frames = []
    if big:
        lines = _scan(spark, sorted(big), per_file=False)
        if doc_level:
            # Re-glue each oversized file's line rows into ONE row in
            # exact byte order: input_file_block_start() orders the
            # Hadoop splits by file offset and a per-task monotonic id
            # orders rows within a split, so sorting the collected
            # (block, seq, text) structs reconstructs the file even
            # though collect_list order is shuffle-dependent.  The
            # line scan cannot see whether the file's last byte was a
            # newline, so probe it driver-side (1 byte per oversized
            # file — there are few by construction).
            by_key = {key: local for _, key, local in entries}
            nl_tail = [k for k in sorted(big) if _ends_nl(spark, k, by_key[k])]
            lines = (
                lines.withColumn("blk", F.input_file_block_start())
                .withColumn("seq", F.monotonically_increasing_id())
                .groupBy("abs_path")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("blk", "seq", "text"))
                    ).alias("frags")
                )
                .select(
                    "abs_path",
                    F.concat_ws(
                        "\n", F.transform("frags", lambda x: x.text)
                    ).alias("text"),
                )
            )
            if nl_tail:
                lines = lines.withColumn(
                    "text",
                    F.when(
                        F.col("abs_path").isin(nl_tail),
                        F.concat(F.col("text"), F.lit("\n")),
                    ).otherwise(F.col("text")),
                )
        frames.append(lines)
    if whole:
        frames.append(_scan(spark, whole, per_file=True))
    scanned = functools.reduce(DataFrame.unionByName, frames)
    return _join_ids(spark, manifest_path, entries, scanned, validate)


def _scan(spark: SparkSession, read_paths: list[str], per_file: bool) -> DataFrame:
    """(abs_path, text) rows of one Spark text scan.  lineSep pins the
    row delimiter to \\n exactly like the reference's getline
    (main.c++:98).  Without it Hadoop's LineReader ALSO splits on lone
    \\r — but a mid-token \\r must JOIN its fragments (the normalizer
    erases it), not split them: "alpha\\rbeta" is one token "alphabeta"
    in the reference.  Verified by the adversarial fidelity test's CR
    cases."""
    return spark.read.option("lineSep", "\n").text(
        read_paths, wholetext=per_file
    ).select(
        _decoded_path(F.input_file_name()).alias("abs_path"),
        F.col("value").alias("text"),
    )


def _join_ids(
    spark: SparkSession,
    manifest_path: str,
    entries: list,
    scanned: DataFrame,
    validate: bool,
) -> DataFrame:
    """Attach doc ids to a Spark scan's (abs_path, text) rows by a
    broadcast join on the ``(doc_id, key, local)`` entries' keys."""
    mapping = spark.createDataFrame(
        pd.DataFrame(
            {
                "abs_path": [key for _, key, _ in entries],
                "doc_id": [doc_id for doc_id, _, _ in entries],
            }
        ),
        "abs_path string, doc_id long",
    )
    corpus = scanned.join(F.broadcast(mapping), "abs_path").select("doc_id", "text")
    if validate:
        expected = [key for _, key, local in entries if _size(spark, key, local) > 0]
        _check_listed(spark, manifest_path, expected, _input_files(corpus))
    return corpus


def _input_files(df: DataFrame) -> list[str]:
    """``df.inputFiles()`` in one transfer: the JVM joins the file URIs
    with NUL, which no path holds, and Python splits the string once.
    PySpark's own ``inputFiles()`` converts the array one element per
    py4j call (10-18 ms for 400 files, against 0.6 ms for the JVM
    listing itself)."""
    jvm = df.sparkSession._jvm
    files = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(df._jdf.inputFiles())
    joined = files.mkString("\0")
    return joined.split("\0") if joined else []


def _local_path(p: str) -> str | None:
    """The absolute local path a manifest entry names, or None when it
    carries a scheme other than ``file`` (read through Hadoop)."""
    m = _SCHEME.match(p)
    if m is None:
        return os.path.abspath(p)
    if m.group(1).lower() != "file":
        return None
    rest = p[m.end():]
    if rest.startswith("//"):  # drop the authority
        rest = rest[2:]
        rest = rest[rest.find("/"):] if "/" in rest else "/"
    return os.path.abspath(rest)


def _hadoop_file(spark: SparkSession, uri: str):
    """(FileSystem, Path) of a remote URI, resolved on the driver."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _size(spark: SparkSession, key: str, local: str | None) -> int:
    """Bytes in a manifest file, local or remote."""
    if local is not None:
        return os.path.getsize(local)
    fs, path = _hadoop_file(spark, key)
    return fs.getFileStatus(path).getLen()


def _ends_nl(spark: SparkSession, key: str, local: str | None) -> bool:
    """Whether a manifest file's last byte is a newline."""
    if local is not None:
        with open(local, "rb") as f:
            f.seek(-1, os.SEEK_END)
            return f.read(1) == b"\n"
    fs, path = _hadoop_file(spark, key)
    stream = fs.open(path)
    try:
        stream.seek(fs.getFileStatus(path).getLen() - 1)
        return stream.read() == ord("\n")
    finally:
        stream.close()


def _decoded_path(uri: Column) -> Column:
    """A scan's file URI as the absolute path the manifest names.  A
    literal ``+`` is legal in a URI path but ``url_decode``
    (URLDecoder semantics) would turn it into a space, so it is
    re-escaped first."""
    path = F.regexp_replace(uri, "^file:/*", "/")
    return F.url_decode(F.replace(path, F.lit("+"), F.lit("%2B")))


def _check_listed(
    spark: SparkSession, manifest_path: str, expected: list[str], listed: list[str]
) -> None:
    """Raise unless every ``expected`` key (the non-empty manifest files
    a scan reads; empty files legitimately yield no rows) is among
    ``listed`` (the scans' file URIs) after the join's own decode."""
    decoded = {
        r.p
        for r in spark.createDataFrame(pd.DataFrame({"uri": listed}), "uri string")
        .select(_decoded_path(F.col("uri")).alias("p"))
        .collect()
    }
    missing = [p for p in expected if p not in decoded]
    if missing:
        msg = (
            f"manifest {manifest_path}: {len(expected)} non-empty files listed "
            f"but only {len(expected) - len(missing)} matched the scan — path "
            f"encoding mismatch? missing: {missing[:5]}"
        )
        if any(os.path.basename(p).startswith(("_", ".")) for p in missing):
            msg += (
                "; Spark's file listing skips names starting with '_' or "
                "'.', even when the path is given explicitly"
            )
        raise RuntimeError(msg)

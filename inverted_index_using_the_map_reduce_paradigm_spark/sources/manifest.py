"""Reference-native manifest ingestion (SURVEY.md §7 step 2).

The reference's input is a master file whose first line is the corpus
file count N followed by N file paths (``/root/reference/main.c++:
307-352``, CR/LF stripped); each corpus file is plain text read line by
line (main.c++:87-98) and doc ids are the **1-based** manifest
positions (main.c++:74-77).

The manifest itself is a tiny control file, so it is read driver-side
(exactly like the reference's main()); the corpus files are read by
Spark's distributed text source in ONE multi-path scan, and doc ids
are recovered by joining ``input_file_name()`` against a broadcast
path->id map — no per-file driver loop, so a 100 TB corpus with
millions of files still scans with full parallelism.
"""

from __future__ import annotations

import os

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


# Above this size a corpus file no longer rides the wholetext fast
# path: a whole-file row must fit one task (and a JVM string caps at
# ~2 GiB), so ``wholetext="auto"`` reads oversized files line-wise —
# Hadoop splits them into maxPartitionBytes chunks and a multi-GiB
# document parallelizes across tasks instead of OOMing one.
WHOLETEXT_MAX_BYTES = 256 * 2**20


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
    downstream of tokenization).

    ``wholetext=True`` reads one row per FILE instead (same downstream
    semantics, since the tokenizer splits on newlines anyway).  This is
    the right granularity for the Arrow bulk tokenizer: per-row Python
    overhead is paid per document, not per line — at 8 GiB that is
    5000 rows instead of ~450 M.  Each file must then fit one task's
    memory; documents do (they are bounded), arbitrary concatenated
    logs may not — hence opt-in.

    ``wholetext="auto"`` (r7, the skew-safe form) routes each file by
    SIZE: files over ``WHOLETEXT_MAX_BYTES`` go through the splittable
    line-wise scan (a multi-GiB document parallelizes across its
    Hadoop splits and never materializes as one row), the rest keep
    the wholetext fast path; the two scans union before the doc-id
    join.

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
    oversized docs pay the single-task concat.  When the split is
    active both branches pass EXPLICIT path lists (the
    parent-directory listing shortcut would re-read the big files in
    the wholetext branch) — the per-path driver listing cost is the
    documented price of a skewed layout.

    ``input_file_name()`` returns a percent-encoded file URI, so it is
    decoded (``_decoded_path``) before joining against the driver-side
    absolute paths — otherwise a manifest path containing a space (or
    any URI-escaped char) would silently drop every line of that
    document.

    ``validate=True`` adds a loud check that every non-empty manifest
    entry can surface in the scan.  It reads no data: the scans' own
    file listing (``DataFrame.inputFiles()``, the same strings
    ``input_file_name()`` yields) goes through the same decode on the
    driver, and every listed non-empty file yields at least one row.
    Spark's listing skips names starting with ``_`` or ``.``, so such
    manifest entries fail the check.  The CLI and tests enable it.
    """
    paths = read_manifest_paths(manifest_path)
    # pandas + Arrow makes the map a LocalRelation, broadcast by a
    # JVM-only job; a list of tuples would be a Python RDD whose
    # broadcast runs a Python stage under a second worker factory
    mapping = spark.createDataFrame(
        pd.DataFrame(
            {
                "abs_path": [os.path.abspath(p) for p in paths],
                "doc_id": range(1, len(paths) + 1),
            }
        ),
        "abs_path string, doc_id long",
    )
    # Passing N explicit paths makes the DataSource glob-qualify each
    # one driver-side — measured ~10 s for 5000 paths vs ~0.1 s to list
    # their parent DIRECTORY.  The doc_id join below keeps only rows
    # whose file is IN the manifest, so when the manifest's files
    # cluster into few directories (the reference's layout), reading
    # those directories is semantically identical and removes the
    # per-path listing cost; scattered manifests keep the explicit
    # list.  Extra non-manifest files in a shared directory cost scan
    # bytes only — their rows drop at the join, and ``validate`` checks
    # every manifest entry surfaced.
    def _scan(read_paths: list[str], per_file: bool) -> DataFrame:
        # lineSep pins the row delimiter to \n exactly like the
        # reference's getline (main.c++:98).  Without it Hadoop's
        # LineReader ALSO splits on lone \r — but a mid-token \r must
        # JOIN its fragments (the normalizer erases it), not split
        # them: "alpha\rbeta" is one token "alphabeta" in the
        # reference.  Verified by the adversarial fidelity test's CR
        # cases.
        return spark.read.option("lineSep", "\n").text(
            read_paths, wholetext=per_file
        ).select(
            _decoded_path(F.input_file_name()).alias("abs_path"),
            F.col("value").alias("text"),
        )

    if doc_level and wholetext != "auto":
        raise ValueError(
            "doc_level=True is the auto-split re-aggregation contract; "
            "wholetext=True/False already yields doc/line rows directly"
        )
    big: list[str] = []
    if wholetext == "auto":
        big = [
            os.path.abspath(p)
            for p in paths
            if os.path.getsize(p) > WHOLETEXT_MAX_BYTES
        ]
        wholetext = True  # the non-big branch keeps the fast path
    if big:
        bigset = set(big)
        small = [
            os.path.abspath(p)
            for p in paths
            if os.path.abspath(p) not in bigset
        ]
        lines = _scan(big, per_file=False)
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
            def _ends_nl(p: str) -> bool:
                with open(p, "rb") as f:
                    f.seek(-1, os.SEEK_END)
                    return f.read(1) == b"\n"

            nl_tail = [p for p in big if _ends_nl(p)]
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
        if small:
            lines = lines.unionByName(_scan(small, per_file=True))
    else:
        parents = sorted({os.path.dirname(os.path.abspath(p)) for p in paths})
        read_paths = parents if len(parents) * 10 <= len(paths) else paths
        lines = _scan(read_paths, per_file=bool(wholetext))
    corpus = lines.join(F.broadcast(mapping), "abs_path").select("doc_id", "text")
    if validate:
        _check_listed(spark, manifest_path, paths, corpus.inputFiles())
    return corpus


def _decoded_path(uri: Column) -> Column:
    """A scan's file URI as the absolute path the manifest names.  A
    literal ``+`` is legal in a URI path but ``url_decode``
    (URLDecoder semantics) would turn it into a space, so it is
    re-escaped first."""
    path = F.regexp_replace(uri, "^file:/*", "/")
    return F.url_decode(F.replace(path, F.lit("+"), F.lit("%2B")))


def _check_listed(
    spark: SparkSession, manifest_path: str, paths: list[str], listed: list[str]
) -> None:
    """Raise unless every non-empty manifest file is among ``listed``
    (the scans' file URIs) after the join's own decode.  Empty (0-byte)
    files legitimately yield no rows in either scan mode, so they are
    not required."""
    decoded = {
        r.p
        for r in spark.createDataFrame(pd.DataFrame({"uri": listed}), "uri string")
        .select(_decoded_path(F.col("uri")).alias("p"))
        .collect()
    }
    expected = [os.path.abspath(p) for p in paths if os.path.getsize(p) > 0]
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

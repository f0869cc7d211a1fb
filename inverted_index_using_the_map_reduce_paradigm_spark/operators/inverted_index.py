"""Flagship inverted-index pipeline + query side.

Reference parity (SURVEY.md §2.1): the full dataflow of
``/root/reference/main.c++`` — tokenize (main.c++:100-104), normalize
(:110-124), drop-empty (:125-128), per-doc distinct (:47-58,130-142),
group-by-word posting merge (:186-203), per-letter partition (:184),
(doc_freq DESC, word ASC) ordering (:37-44), ascending postings
(:239-252) — expressed as one declarative DataFrame chain.  The
reference's two barriers become Spark's two shuffle boundaries (the
``groupBy`` exchange and the final sort exchange); its 26 bucket
mutexes are obsolete because the shuffle gives each reducer exclusive
partitions.

Scale posture: the only required shuffle is the ``groupBy("word")``
partial+final aggregation (map-side combine replaces the reference's
manual per-file dedup).  Posting lists never touch the driver; the
letter-file sink (``sources/sinks.py``) writes each letter's file from
the task that holds it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..data import read_parquet, table, table_fingerprint
from ..functions.text import (
    sql_tokens,
    tokenize_documents,
    tokenize_documents_distinct,
    tokenize_documents_distinct_arrow,
    tokens_of,
)
from ..registry import register

# Shared DuckDB CTE: the normalized (doc_id, word) token stream.
SQL_TOKS_CTE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({sql_tokens('text')}) AS word
  FROM documents
)
"""


def build_index(
    documents: DataFrame, arrow_tokenizer: bool = False
) -> DataFrame:
    """word -> sorted posting list + doc_freq + letter partition key.

    The per-doc distinct (reference R7, the mapper's per-file hash set,
    main.c++:131-140) runs ARRAY-LOCALLY before the explode
    (``tokenize_documents_distinct``): repeated tokens die inside the
    scan stage, so the aggregation — still a single shuffle with
    map-side partial ``collect_set`` — probes per-doc vocabulary rows,
    not corpus token volume.  This is exactly where the reference does
    its dedup work too; doing it later (dedup inside the agg hash
    table) is semantically identical but pushes every occurrence
    through a per-row hash probe.

    ``arrow_tokenizer=True`` swaps the expression tokenizer for the
    ``bytes.translate`` mapInPandas fast path
    (``tokenize_documents_distinct_arrow``) — identical output
    (byte-level fidelity test + race harness), ~1.7x on the bulk
    build, reaching compiled-reference parity at 8.33 GiB; the
    expression form stays the default so registered queries keep
    whole-stage-codegen plans.

    Input-granularity note: ``documents`` may be LINE-grained (one row
    per line of a file, as ``read_corpus`` emits in line mode), in
    which case the distinct token stream still carries cross-line
    duplicates — correctness here relies on the downstream
    ``collect_set`` deduplicating them, NOT on the stream being
    globally (doc_id, word)-unique.  A count-based consumer must use
    whole-document rows (``tokenize_documents_distinct``'s documented
    precondition) or re-dedup itself.
    """
    toks = (
        tokenize_documents_distinct_arrow(documents)
        if arrow_tokenizer
        else tokenize_documents_distinct(documents)
    )
    return (
        toks.groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
        .withColumn("doc_freq", F.size("postings"))
        .withColumn("letter", F.substring("word", 1, 1))
    )


def formatted_index(
    documents: DataFrame, arrow_tokenizer: bool = False
) -> DataFrame:
    """Adds the reference's output line format ``word:[d1 d2 ... dn]``
    (main.c++:254-266); input to the letter-file sink."""
    return build_index(documents, arrow_tokenizer=arrow_tokenizer).withColumn(
        "line",
        F.concat(
            F.col("word"),
            F.lit(":["),
            F.concat_ws(" ", F.transform("postings", lambda d: d.cast("string"))),
            F.lit("]"),
        ),
    )


# --------------------------------------------------------------------------
# registered queries
# --------------------------------------------------------------------------


@register(
    "tokenize",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT word, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY word
""",
    description="R4+R5+R6: normalized token stream with occurrence counts",
    tags=("reference", "text"),
)
def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokenize_documents(table(spark, sf_dir, "documents"))
    return toks.groupBy("word").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "inverted_index",
    oracle=(INVERTED_INDEX_ORACLE := f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
SELECT word,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       count(*) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM dedup
GROUP BY word
"""),
    description="flagship R7+R10+R11+R13+R14: word -> sorted postings, df, letter",
    tags=("reference", "flagship"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serialize postings for the cross-engine value hash
    return _serialize_index(build_index(table(spark, sf_dir, "documents")))


@register(
    "inverted_index_arrow",
    oracle=INVERTED_INDEX_ORACLE,
    description="flagship index via the Arrow bytes.translate bulk tokenizer (same oracle)",
    tags=("reference", "flagship", "udf", "scale"),
)
def q_inverted_index_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bulk-build fast path on the driver's correctness surface:
    the ``bytes.translate`` mapInPandas tokenizer
    (``functions/text.py::tokenize_documents_distinct_arrow``) feeding
    the same aggregation, hash-checked against the SAME DuckDB oracle
    as ``inverted_index`` — so the path that reaches compiled-reference
    parity in the race (BASELINE.md: 1.03x at 8.33 GiB, byte-identical
    output) is also value-verified per round, not only test-verified."""
    return _serialize_index(
        build_index(table(spark, sf_dir, "documents"), arrow_tokenizer=True)
    )


@register(
    "doc_freq_topk",
    oracle=f"""
{SQL_TOKS_CTE}
, df AS (
  SELECT word, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY word
)
SELECT word, doc_freq
FROM df
ORDER BY doc_freq DESC, word ASC
LIMIT 25
""",
    description="R13 generalized: global top-k words by document frequency",
    tags=("reference", "topk"),
)
def q_doc_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df over the per-doc-distinct stream is a plain count: the dedup
    # already happened array-locally in the scan stage, so there is no
    # countDistinct two-level aggregate, and top-k is TakeOrdered.
    toks = tokenize_documents_distinct(table(spark, sf_dir, "documents"))
    return (
        toks.groupBy("word")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("word"))
        .limit(25)
    )


@register(
    "letter_topk",
    oracle=f"""
{SQL_TOKS_CTE}
, df AS (
  SELECT word, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY word
), ranked AS (
  SELECT word, doc_freq, substr(word, 1, 1) AS letter,
         row_number() OVER (PARTITION BY substr(word, 1, 1)
                            ORDER BY doc_freq DESC, word ASC) AS rank
  FROM df
)
SELECT letter, rank, word, doc_freq FROM ranked WHERE rank <= 3
""",
    description="per-letter top-k by df (window rank; WindowGroupLimit at scale)",
    tags=("reference", "topk", "window"),
)
def q_letter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same plain-count df as doc_freq_topk (dedup is array-local)
    toks = tokenize_documents_distinct(table(spark, sf_dir, "documents"))
    df = toks.groupBy("word").agg(F.count("*").alias("doc_freq"))
    df = df.withColumn("letter", F.substring("word", 1, 1))
    w = Window.partitionBy("letter").orderBy(F.desc("doc_freq"), F.asc("word"))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("letter", "rank", "word", "doc_freq")
    )


TERM = "scan"
AND_TERMS = ("scan", "join", "vector")
OR_TERMS = ("window", "stream")
NOT_TERMS = ("merge",)


def _sql_list(terms) -> str:
    return ", ".join(f"'{t}'" for t in terms)


@register(
    "term_lookup",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT word,
       array_to_string(list(DISTINCT doc_id ORDER BY doc_id), ' ') AS postings,
       count(DISTINCT doc_id) AS doc_freq
FROM toks WHERE word = '{TERM}' GROUP BY word
""",
    description="query side: posting list for one term (letter-partition-prunable)",
    tags=("reference", "query"),
)
def q_term_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Filter BEFORE the aggregation: Catalyst pushes word='scan' into the
    # scan side of the token stream, so only matching tokens shuffle.  On
    # a letter-partitioned stored index this is partition pruning.
    toks = tokenize_documents(table(spark, sf_dir, "documents"))
    return (
        toks.filter(F.col("word") == TERM)
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("p"))
        .select(
            "word",
            F.concat_ws(" ", F.transform("p", lambda d: d.cast("string"))).alias(
                "postings"
            ),
            F.size("p").cast("long").alias("doc_freq"),
        )
    )


@register(
    "boolean_and",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT doc_id FROM toks
WHERE word IN ({_sql_list(AND_TERMS)})
GROUP BY doc_id
HAVING count(DISTINCT word) = {len(AND_TERMS)}
""",
    description="docs containing ALL query terms (count-matching semi-join)",
    tags=("reference", "query"),
)
def q_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    # AND as group-count over the term set: one shuffle on doc_id, no
    # self-join chain (which would be len(terms)-1 shuffles).
    toks = tokenize_documents(table(spark, sf_dir, "documents"))
    return (
        toks.filter(F.col("word").isin(*AND_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("word").alias("n"))
        .filter(F.col("n") == len(AND_TERMS))
        .select("doc_id")
    )


@register(
    "boolean_or",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE word IN ({_sql_list(OR_TERMS)})
""",
    description="docs containing ANY query term",
    tags=("reference", "query"),
)
def q_boolean_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokenize_documents(table(spark, sf_dir, "documents"))
    return toks.filter(F.col("word").isin(*OR_TERMS)).select("doc_id").distinct()


@register(
    "boolean_setops",
    oracle=f"""
{SQL_TOKS_CTE}
, u AS (
  SELECT DISTINCT doc_id FROM toks WHERE word = '{OR_TERMS[0]}'
  UNION
  SELECT DISTINCT doc_id FROM toks WHERE word = '{OR_TERMS[1]}'
), i AS (
  SELECT doc_id FROM u
  INTERSECT
  SELECT DISTINCT doc_id FROM toks WHERE word = '{TERM}'
)
SELECT doc_id FROM i
EXCEPT
SELECT DISTINCT doc_id FROM toks WHERE word = '{NOT_TERMS[0]}'
""",
    description="set algebra on posting sets: UNION then INTERSECT then EXCEPT",
    tags=("reference", "query", "setops"),
)
def q_boolean_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(docs(A) ∪ docs(B)) ∩ docs(C) − docs(D), compiled to ONE pass:
    per-doc presence flags for the four terms come out of a single
    filtered tokenize + doc_id aggregation, and the set algebra is a
    boolean predicate over the flags — (a|b) & c & !d.  The oracle
    keeps the literal UNION/INTERSECT/EXCEPT form, proving the
    algebraic rewrite; the native set operators themselves stay
    exercised by ``nation_setops_native``.

    Tokenize-once (r7): the previous form built each of the four
    posting sets with the set operators directly, which re-tokenized
    the corpus four times (term filters push below the distinct, so no
    subtree is shared).  One tokenize + one doc_id shuffle replaces
    four of each — and at 100 TB a real query side would read the
    STORED index instead (``boolean_*_stored``); this query is the
    no-index form at reference parity."""
    toks = tokenize_documents(table(spark, sf_dir, "documents"))
    terms = [OR_TERMS[0], OR_TERMS[1], TERM, NOT_TERMS[0]]

    def has(term: str):
        return F.max((F.col("word") == term).cast("int")) == 1

    return (
        toks.filter(F.col("word").isin(*terms))
        .groupBy("doc_id")
        .agg(
            has(OR_TERMS[0]).alias("a"),
            has(OR_TERMS[1]).alias("b"),
            has(TERM).alias("c"),
            has(NOT_TERMS[0]).alias("d"),
        )
        .filter((F.col("a") | F.col("b")) & F.col("c") & ~F.col("d"))
        .select("doc_id")
    )


def merge_indexes(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental index maintenance: merge a delta index into a base
    index (generalizes the reference's reduce-side merge-or-insert,
    main.c++:186-203, to index-vs-index instead of record-vs-index).

    One union + one ``groupBy("word")``: posting arrays concatenate,
    dedup, and re-sort inside the aggregation.  At 100 TB the stored
    base index is bucketed on ``word`` (sources/sinks.write_bucketed),
    so only the (much smaller) delta shuffles — a full rebuild would
    re-tokenize and re-shuffle the entire corpus instead.
    """
    cols = ("word", "postings")
    return (
        base.select(*cols)
        .unionByName(delta.select(*cols))
        .groupBy("word")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("postings")))
            ).alias("postings")
        )
        .withColumn("doc_freq", F.size("postings"))
        .withColumn("letter", F.substring("word", 1, 1))
    )


def _serialize_index(idx: DataFrame) -> DataFrame:
    return idx.select(
        "word",
        F.concat_ws(" ", F.transform("postings", lambda d: d.cast("string"))).alias(
            "postings"
        ),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        "letter",
    )


@register(
    "index_merge",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
SELECT word,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       count(*) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM dedup
GROUP BY word
""",
    description="incremental maintenance: delta index merged into base == full rebuild",
    tags=("reference", "maintenance"),
)
def q_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds a base index over 3/4 of the corpus and a delta index over
    the remaining 1/4, merges them, and must equal the full rebuild
    (the oracle is literally ``inverted_index``'s SQL)."""
    docs = table(spark, sf_dir, "documents")
    base = build_index(docs.filter(F.col("doc_id") % 4 != 0))
    delta = build_index(docs.filter(F.col("doc_id") % 4 == 0))
    return _serialize_index(merge_indexes(base, delta))


@register(
    "index_delete",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (
  SELECT DISTINCT word, doc_id FROM toks WHERE doc_id % 5 != 0
)
SELECT word,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       count(*) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM dedup
GROUP BY word
""",
    description="index maintenance: delete docs from posting lists, no re-tokenize",
    tags=("reference", "maintenance"),
)
def q_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document deletion against the STORED index: filter each posting
    list in place and drop emptied words — no re-tokenization of the
    corpus.  Pure per-row array work (zero shuffles beyond the index
    build itself); at scale this runs as a partition-local rewrite of
    the letter-bucketed index files."""
    idx = build_index(table(spark, sf_dir, "documents"))
    deleted = idx.withColumn(
        "postings", F.filter("postings", lambda d: d % 5 != 0)
    ).filter(F.size("postings") > 0)
    deleted = deleted.withColumn("doc_freq", F.size("postings"))
    return _serialize_index(deleted)


@register(
    "boolean_not",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM toks WHERE word IN ({_sql_list(NOT_TERMS)})
)
""",
    description="docs containing NONE of the terms (anti-join)",
    tags=("reference", "query"),
)
def q_boolean_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokenize_documents(docs)
    containing = toks.filter(F.col("word").isin(*NOT_TERMS)).select("doc_id")
    return docs.select("doc_id").join(containing, "doc_id", "left_anti")


# --------------------------------------------------------------------------
# stored-index query path — the reference's OUTPUT is an index; querying
# the stored form (not re-tokenizing the corpus) is the product at 100 TB.
# The letter-partitioned parquet layout (sources/sinks.write_parquet_index)
# turns a term lookup into partition pruning + a pushed word predicate.
# --------------------------------------------------------------------------

# (sf_dir, corpus fingerprint, kind) -> materialized index directory.
# Rebuilt once per process (never trusted across processes: operator
# code may have changed), then every stored-path query is a pure pruned
# read.  The fingerprint key (r8) means a corpus mutated in place at
# the same path rebuilds instead of serving a stale index.
_STORED_INDEX: dict[tuple[str, str, str], str] = {}


def stored_index_dir(spark: SparkSession, sf_dir: str, kind: str = "flat") -> str:
    """Materialize (once per process) the letter-partitioned index over
    ``sf_dir``'s documents and return its directory.

    ``kind='flat'`` stores ``build_index`` output (word, postings,
    doc_freq / letter= partitions); ``kind='positional'`` stores
    ``build_positional_index`` output (word, doc_id, positions /
    letter= partitions).  This is the write-once-query-many shape: at
    100 TB the index is built by the ingest pipeline and queries only
    ever touch the pruned letter directories.
    """
    fp = table_fingerprint(sf_dir, "documents")
    key = (sf_dir, fp, kind)
    d = _STORED_INDEX.get(key)
    if d is None:
        from ..sources.sinks import write_parquet_index

        # fingerprint in the path: a rebuild lands in a fresh directory
        base = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_index_{os.getpid()}",
            sf_dir.strip("/").replace("/", "_"),
            fp,
            kind,
        )
        docs = table(spark, sf_dir, "documents")
        if kind == "flat":
            write_parquet_index(build_index(docs), base)
        elif kind == "bloomed":
            # the flat index fragmented into ~4 hash-bucketed files per
            # letter directory (the 100 TB shape: a letter dir is many
            # files) + the per-file bloom sidecar for within-directory
            # skipping (sources/sinks.py:write_bloom_sidecar)
            from ..sources.sinks import write_bloom_sidecar

            idx = build_index(docs)
            # explicit 4-partition range split on the word-hash bucket
            # (an unpinned repartition gets AQE-coalesced back to one
            # file per letter at fixture scale); each bucket partition
            # then writes one file into every letter directory it
            # holds words for -> up to 4 files per letter dir
            (
                idx.withColumn("_b", F.pmod(F.xxhash64("word"), F.lit(4)))
                .repartitionByRange(4, "_b")
                .drop("_b")
                .write.mode("overwrite")
                .partitionBy("letter")
                .parquet(base)
            )
            write_bloom_sidecar(spark, base)
        elif kind == "positional":
            pidx = build_positional_index(docs).withColumn(
                "letter", F.substring("word", 1, 1)
            )
            (
                pidx.repartition("letter")
                .write.mode("overwrite")
                .partitionBy("letter")
                .parquet(base)
            )
        else:
            raise ValueError(f"unknown index kind {kind!r}")
        _STORED_INDEX[key] = d = base
    return d


@register(
    "term_lookup_stored",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT word,
       array_to_string(list(DISTINCT doc_id ORDER BY doc_id), ' ') AS postings,
       count(DISTINCT doc_id) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM toks WHERE word = '{TERM}' GROUP BY word
""",
    description="term lookup against the STORED letter-partitioned index (pruned scan)",
    tags=("reference", "query", "storage"),
)
def q_term_lookup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as ``term_lookup`` but read from the stored parquet
    index: the letter predicate prunes to ONE partition directory
    (PartitionFilters in the plan — pinned by test_plan_quality) and
    the word predicate pushes into that directory's parquet scan.  No
    tokenization, no aggregation, no shuffle at query time."""
    from ..sources.sinks import lookup_term

    idx = lookup_term(spark, stored_index_dir(spark, sf_dir, "flat"), TERM)
    return idx.select(
        "word",
        F.concat_ws(" ", F.transform("postings", lambda d: d.cast("string"))).alias(
            "postings"
        ),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        "letter",
    )


@register(
    "bloom_pruned_lookup",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT word,
       array_to_string(list(DISTINCT doc_id ORDER BY doc_id), ' ') AS postings,
       count(DISTINCT doc_id) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM toks WHERE word = '{TERM}' GROUP BY word
""",
    description="term lookup with per-file bloom skipping inside the letter partition",
    tags=("reference", "query", "storage", "scale"),
)
def q_bloom_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as ``term_lookup_stored``, one pruning level
    deeper: after the letter predicate prunes to one partition
    directory, the per-file bloom sidecar (sources/sinks.py) skips
    the directory's files whose word bloom lacks the term — at 100 TB
    a letter directory is thousands of files and the sidecar probe is
    a metadata-sized read, so lookup IO drops from O(letter dir) to
    O(candidate files).  No false negatives by construction (build
    and probe share the hash family; pinned in tests alongside the
    skip ratio)."""
    from ..sources.sinks import bloom_pruned_lookup

    idx_dir = stored_index_dir(spark, sf_dir, "bloomed")
    hit = bloom_pruned_lookup(spark, idx_dir, idx_dir + "_bloom", TERM)
    return hit.select(
        "word",
        F.concat_ws(" ", F.transform("postings", lambda d: d.cast("string"))).alias(
            "postings"
        ),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        "letter",
    )


@register(
    "index_compact",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
SELECT word,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       count(*) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM dedup
GROUP BY word
""",
    description="segment compaction: segmented index folds back to the flat index",
    tags=("reference", "maintenance", "scale"),
)
def q_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the segment lifecycle: ingest appends small segments
    (bounded agg state), compaction later folds a word's segments into
    one posting row — concat in segment_id order, no re-sort needed
    because segments partition the doc_id range in rank order.  The
    groupBy(word) here aggregates segment STRINGS (a few per word),
    never re-materializing per-doc rows; the oracle is the flat
    ``inverted_index`` SQL, proving compact(segmented) == rebuild."""
    seg = build_segmented_index(table(spark, sf_dir, "documents"))
    return (
        seg.groupBy("word")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("segment_id", "postings"))
                    ),
                    lambda s: s["postings"],
                ),
            ).alias("postings"),
            F.sum("segment_len").alias("doc_freq"),
        )
        .withColumn("letter", F.substring("word", 1, 1))
        .select("word", "postings", "doc_freq", "letter")
    )


@register(
    "boolean_and_stored",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT doc_id FROM toks
WHERE word IN ({_sql_list(AND_TERMS)})
GROUP BY doc_id
HAVING count(DISTINCT word) = {len(AND_TERMS)}
""",
    description="boolean AND against the STORED index: pruned posting-array intersect",
    tags=("reference", "query", "storage"),
)
def q_boolean_and_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as ``boolean_and`` but from the stored index: the
    query terms' first letters prune the scan, each term's posting
    ARRAY arrives as one row, and the intersection is explode +
    count-matching over len(terms) rows' worth of postings — work
    proportional to the posting lists touched, not the corpus."""
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "flat"))
    hits = idx.filter(
        F.col("letter").isin(sorted({t[:1] for t in AND_TERMS}))
        & F.col("word").isin(*AND_TERMS)
    )
    return (
        hits.select(F.explode("postings").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == len(AND_TERMS))
        .select("doc_id")
    )


# --------------------------------------------------------------------------
# positional index + phrase queries (extension: SURVEY.md §2.2 notes the
# reference's postings are doc-level only, main.c++:138, so phrase queries
# are impossible against it — this adds the position-aware variant)
# --------------------------------------------------------------------------

# DuckDB-side positional token stream: parallel unnest of the token array
# and 1..n gives (word, pos) with 1-based positions.
SQL_PTOKS_CTE = f"""
WITH ptoks AS (
  SELECT doc_id,
         unnest(words) AS word,
         unnest(generate_series(1, len(words))) AS pos
  FROM (SELECT doc_id, {sql_tokens('text')} AS words FROM documents)
)
"""


def tokenize_with_positions(documents: DataFrame) -> DataFrame:
    """(doc_id, word, pos) stream with 1-based token positions.

    ``posexplode`` keeps position assignment inside the generate
    operator (no window over the token stream needed) — same single
    scan-project shape as the positionless tokenizer.
    """
    from ..functions.text import tokens_of

    return documents.select(
        "doc_id", F.posexplode(tokens_of(F.col("text"))).alias("pos", "word")
    ).select("doc_id", "word", (F.col("pos") + 1).alias("pos"))


def build_positional_index(documents: DataFrame) -> DataFrame:
    """word -> per-doc sorted position lists (the phrase-capable index).

    Same single-shuffle shape as ``build_index`` — the key is
    (word, doc_id), so skew from a hot word spreads over its documents
    instead of concentrating on one reducer.
    """
    return (
        tokenize_with_positions(documents)
        .groupBy("word", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


@register(
    "positional_index",
    oracle=f"""
{SQL_PTOKS_CTE}
SELECT word, doc_id,
       array_to_string(list(pos ORDER BY pos), ' ') AS positions,
       count(*) AS n_occurrences
FROM ptoks
GROUP BY word, doc_id
""",
    description="position-aware index: word -> per-doc sorted position lists",
    tags=("reference", "extension", "index"),
)
def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_positional_index(table(spark, sf_dir, "documents"))
    return idx.select(
        "word",
        "doc_id",
        F.concat_ws(" ", F.transform("positions", lambda p: p.cast("string"))).alias(
            "positions"
        ),
        F.size("positions").cast("long").alias("n_occurrences"),
    )


def phrase_search(documents: DataFrame, phrase: list[str]) -> DataFrame:
    """Docs containing the exact consecutive word sequence ``phrase``,
    with match counts.

    Each word's occurrences are anchored to ``pos - i`` (its position
    minus its phrase offset), so consecutive-position matching becomes a
    pure equi-join on (doc_id, anchor) — hash-joinable, no range or
    inequality condition.  The token stream is filtered to the phrase's
    words BEFORE any join, so join inputs are tiny slices of the corpus;
    at 100 TB this runs against the stored positional index instead of
    re-tokenizing (same join shape).
    """
    toks = tokenize_with_positions(documents).filter(
        F.col("word").isin(list(phrase))
    )
    return _phrase_match(toks, phrase)


def _phrase_match(toks: DataFrame, phrase: list[str]) -> DataFrame:
    """Anchor-join phrase matching over a (doc_id, word, pos) stream
    already filtered to the phrase's words."""
    matched = (
        toks.filter(F.col("word") == phrase[0])
        .select("doc_id", F.col("pos").alias("anchor"))
    )
    for i, w in enumerate(phrase[1:], start=1):
        nxt = toks.filter(F.col("word") == w).select(
            F.col("doc_id").alias("n_doc"), (F.col("pos") - i).alias("n_anchor")
        )
        matched = matched.join(
            nxt,
            (matched["doc_id"] == nxt["n_doc"])
            & (matched["anchor"] == nxt["n_anchor"]),
        ).select("doc_id", "anchor")
    return matched.groupBy("doc_id").agg(F.count("*").alias("n_matches"))


@register(
    "phrase_search",
    oracle=f"""
{SQL_PTOKS_CTE}
SELECT a.doc_id, count(*) AS n_matches
FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.word = 'table' AND b.word = 'hash'
GROUP BY a.doc_id
""",
    description="phrase query via positional-index join: docs containing 'table hash'",
    tags=("reference", "extension", "query"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phrase_search(table(spark, sf_dir, "documents"), ["table", "hash"])


@register(
    "phrase_search_stored",
    oracle=f"""
{SQL_PTOKS_CTE}
SELECT a.doc_id, count(*) AS n_matches
FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.word = 'table' AND b.word = 'hash'
GROUP BY a.doc_id
""",
    description="phrase query against the STORED positional index (pruned, no re-tokenize)",
    tags=("reference", "extension", "query", "storage"),
)
def q_phrase_search_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as ``phrase_search`` but read from the stored
    letter-partitioned positional index: the phrase words' first
    letters prune the scan to (at most) len(phrase) partition
    directories, the word IN (...) predicate pushes into those
    directories' parquet scans, and only then do positions explode
    into the anchor join.  The corpus is never re-tokenized — at
    100 TB the difference between this and ``phrase_search`` is the
    difference between reading kilobytes and reading the corpus."""
    phrase = ["table", "hash"]
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "positional"))
    toks = (
        idx.filter(
            F.col("letter").isin(sorted({w[:1] for w in phrase}))
            & F.col("word").isin(phrase)
        )
        .select("doc_id", "word", F.explode("positions").alias("pos"))
    )
    return _phrase_match(toks, phrase)


# --------------------------------------------------------------------------
# segmented index — the head-word scale path (SCALE.md §7.1)
# --------------------------------------------------------------------------

SEGMENT_DOCS = 8  # postings per segment; 64k in production — small here so
# the fixture actually produces multi-segment words


@register(
    "inverted_index_segmented",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
, numbered AS (
  SELECT word, doc_id,
         row_number() OVER (PARTITION BY word ORDER BY doc_id) - 1 AS rn,
         count(*) OVER (PARTITION BY word) AS doc_freq
  FROM dedup
)
SELECT word,
       rn // {SEGMENT_DOCS} AS segment_id,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       count(*) AS segment_len,
       any_value(doc_freq) AS doc_freq
FROM numbered
GROUP BY word, rn // {SEGMENT_DOCS}
""",
    description=f"segmented posting lists ({SEGMENT_DOCS}/segment): bounded agg state",
    tags=("reference", "flagship", "scale"),
)
def q_inverted_index_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_segmented_index(table(spark, sf_dir, "documents"))


def build_segmented_index(
    documents: DataFrame, segment_docs: int = SEGMENT_DOCS
) -> DataFrame:
    """The head-word fix: a word appearing in every document produces a
    posting array the size of the corpus inside ONE aggregation buffer
    in the flat index (`collect_set` state is unbounded).  Segmenting
    first assigns each (word, doc) its rank within the word via a
    window, then aggregates per (word, segment) — state is bounded by
    ``segment_docs`` regardless of document frequency, and doc_freq
    rides the same window at no extra shuffle.  The letter sink
    (``sources.sinks.write_letter_index_segmented``) concatenates a
    word's segments in segment_id order to reproduce the reference's
    full lines with bounded memory."""
    toks = tokenize_documents(documents).dropDuplicates(["word", "doc_id"])
    w = Window.partitionBy("word").orderBy("doc_id")
    wc = Window.partitionBy("word")
    numbered = toks.select(
        "word",
        "doc_id",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count("*").over(wc).alias("doc_freq"),
    )
    return (
        numbered.groupBy(
            "word", F.floor(F.col("rn") / segment_docs).alias("segment_id")
        )
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda d: d.cast("string")
                ),
            ).alias("postings"),
            F.count("*").alias("segment_len"),
            F.first("doc_freq").alias("doc_freq"),
        )
        .select("word", "segment_id", "postings", "segment_len", "doc_freq")
    )


# --------------------------------------------------------------------------
# search-surface extensions over the stored index: prefix and fuzzy
# term matching.  Both query the letter-partitioned parquet index, not
# the corpus — at 100 TB these touch index-sized data (the vocabulary),
# never document-sized data.
# --------------------------------------------------------------------------

PREFIX = "s"
FUZZY_TERM = "quary"  # one substitution away from 'query'


@register(
    "prefix_search_stored",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
SELECT word,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       count(*) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM dedup WHERE word LIKE '{PREFIX}%'
GROUP BY word
""",
    description="prefix search against the stored index: letter-pruned LIKE scan",
    tags=("reference", "query", "storage"),
)
def q_prefix_search_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard/prefix term search on the STORED index.  The prefix's
    first letter prunes to one ``letter=`` partition directory
    (PartitionFilters) and the ``StartsWith`` predicate pushes into
    that directory's parquet scan — query cost is proportional to one
    letter's vocabulary, independent of corpus size.  A multi-letter
    prefix class (e.g. ``[a-c]%``) would prune to the matching set of
    directories the same way."""
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "flat"))
    return (
        idx.filter(
            (F.col("letter") == PREFIX[0]) & F.col("word").startswith(PREFIX)
        )
        .select(
            "word",
            F.concat_ws(
                " ", F.transform("postings", lambda d: d.cast("string"))
            ).alias("postings"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            "letter",
        )
    )


def _deletion_variants(col: F.Column) -> F.Column:
    """All 1-character-deletion variants of ``col`` plus ``col`` itself
    (the SymSpell neighborhood): two words are within edit distance 1
    iff their neighborhoods intersect."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            F.substring(col, F.lit(1), i - 1),
            col.substr(i + 1, F.length(col)),
        ),
    )
    return F.array_union(F.array(col), dels)


@register(
    "fuzzy_term_lookup",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
SELECT word,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       count(*) AS doc_freq,
       substr(word, 1, 1) AS letter
FROM dedup WHERE levenshtein(word, '{FUZZY_TERM}') <= 1
GROUP BY word
""",
    description="fuzzy term lookup (edit distance 1) via SymSpell deletion-neighborhood join",
    tags=("reference", "query", "storage", "scale"),
)
def q_fuzzy_term_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant term lookup WITHOUT a full-vocabulary distance
    scan: each indexed word explodes into its <=|word|+1 deletion
    variants, the query term's (tiny, driver-computed) variant set
    filters them as an equi-predicate inside codegen, and the exact
    ``levenshtein <= 1`` check runs only on the handful of candidate
    words the neighborhood intersection survives — SymSpell's
    observation, expressed as pruning.  At 100 TB scale the variant
    explode runs over the VOCABULARY (index rows), not the corpus, and
    a batch of query terms would broadcast-join its variant set
    instead of inlining literals (same plan shape).  Fuzzy matching
    cannot prune by letter (the first character may be the typo), so
    this is the one stored-index query that scans all 26 directories —
    still index-sized."""
    q_variants = [FUZZY_TERM] + [
        FUZZY_TERM[:i] + FUZZY_TERM[i + 1 :] for i in range(len(FUZZY_TERM))
    ]
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "flat"))
    candidates = (
        idx.withColumn("variant", F.explode(_deletion_variants(F.col("word"))))
        .filter(F.col("variant").isin(q_variants))
        .drop("variant")
        .dropDuplicates(["word"])
    )
    return (
        candidates.filter(F.levenshtein(F.col("word"), F.lit(FUZZY_TERM)) <= 1)
        .select(
            "word",
            F.concat_ws(
                " ", F.transform("postings", lambda d: d.cast("string"))
            ).alias("postings"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            "letter",
        )
    )


@register(
    "boolean_or_stored",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE word IN ({_sql_list(OR_TERMS)})
""",
    description="boolean OR against the STORED index: pruned posting-array union",
    tags=("reference", "query", "storage"),
)
def q_boolean_or_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of posting arrays from the stored index: letter pruning +
    word pushdown fetch len(terms) rows, explode + distinct unions
    them.  Work scales with the touched posting lists only."""
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "flat"))
    hits = idx.filter(
        F.col("letter").isin(sorted({t[:1] for t in OR_TERMS}))
        & F.col("word").isin(*OR_TERMS)
    )
    return hits.select(F.explode("postings").alias("doc_id")).distinct()


@register(
    "boolean_not_stored",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT DISTINCT doc_id FROM toks
WHERE doc_id NOT IN (SELECT doc_id FROM toks WHERE word IN ({_sql_list(NOT_TERMS)}))
""",
    description="boolean NOT against the STORED index: universe minus pruned postings",
    tags=("reference", "query", "storage"),
)
def q_boolean_not_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT needs the document universe; the stored index provides it
    without touching the corpus — the excluded terms' posting arrays
    (pruned fetch) anti-join the distinct-doc set derived from ALL
    postings.  At 100 TB the universe comes from the doc catalog
    (documents' own key column) instead.  The build side is UNHINTED
    deliberately (r7, flagged by the closed-world gate): the excluded
    set is a fixed word LIST but its exploded posting length is
    corpus-proportional — a stopword in the NOT set reaches half the
    corpus — so AQE's runtime size check must pick broadcast vs
    shuffle, not a compile-time pin."""
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "flat"))
    universe = idx.select(F.explode("postings").alias("doc_id")).distinct()
    excluded = (
        idx.filter(
            F.col("letter").isin(sorted({t[:1] for t in NOT_TERMS}))
            & F.col("word").isin(*NOT_TERMS)
        )
        .select(F.explode("postings").alias("doc_id"))
    )
    return universe.join(excluded, "doc_id", "left_anti")


@register(
    "letter_topk_stored",
    oracle=f"""
{SQL_TOKS_CTE}
, df AS (
  SELECT word, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY word
), ranked AS (
  SELECT word, doc_freq, substr(word, 1, 1) AS letter,
         row_number() OVER (PARTITION BY substr(word, 1, 1)
                            ORDER BY doc_freq DESC, word ASC) AS rank
  FROM df
)
SELECT letter, rank, word, doc_freq FROM ranked WHERE rank <= 3
""",
    description="per-letter top-k read from the STORED index (no re-tokenize)",
    tags=("reference", "topk", "storage"),
)
def q_letter_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """letter_topk without re-tokenizing: doc_freq is already a stored
    column, so the query is a window rank over INDEX rows.  The letter
    partitioning means each partition directory ranks independently
    (the window's partitionBy matches the storage partitioning — zero
    cross-letter traffic), and WindowGroupLimit truncates each group
    at k before any shuffle materializes the tail."""
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "flat"))
    w = Window.partitionBy("letter").orderBy(F.desc("doc_freq"), F.asc("word"))
    return (
        idx.select(
            "letter",
            F.row_number().over(w).alias("rank"),
            "word",
            F.col("doc_freq").cast("long").alias("doc_freq"),
        )
        .filter(F.col("rank") <= 3)
        .select("letter", "rank", "word", "doc_freq")
    )


@register(
    "index_stats",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
, idx AS (
  SELECT word, substr(word, 1, 1) AS letter, count(*) AS doc_freq
  FROM dedup GROUP BY word
)
SELECT letter,
       count(*) AS n_words,
       CAST(sum(doc_freq) AS BIGINT) AS n_postings,
       CAST(max(doc_freq) AS BIGINT) AS max_df,
       round(CAST(sum(doc_freq) AS DOUBLE) / count(*), 6) AS avg_df
FROM idx GROUP BY letter
""",
    description="index health report: vocabulary and posting-volume stats per letter",
    tags=("reference", "maintenance", "storage"),
)
def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational dashboard for a stored index: per-letter
    vocabulary size, posting volume, and head-word df — the numbers
    that drive compaction scheduling and skew monitoring (letter
    directories grow at very different rates; §5 of SCALE.md).  Reads
    ONLY stored index rows; one tiny aggregation keyed on letter (26
    groups), partition-aligned with the storage layout."""
    idx = read_parquet(spark, stored_index_dir(spark, sf_dir, "flat"))
    return idx.groupBy("letter").agg(
        F.count("*").alias("n_words"),
        F.sum("doc_freq").cast("long").alias("n_postings"),
        F.max("doc_freq").cast("long").alias("max_df"),
        F.round(
            F.sum("doc_freq").cast("double") / F.count("*"), 6
        ).alias("avg_df"),
    )


# --------------------------------------------------------------------------
# proximity_search — terms within a position window (slop query)
# --------------------------------------------------------------------------

PROX_TERMS = ("table", "hash")
PROX_WINDOW = 3


@register(
    "proximity_search",
    oracle=f"""
{SQL_PTOKS_CTE}
SELECT a.doc_id, count(*) AS n_matches
FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id
WHERE a.word = '{PROX_TERMS[0]}' AND b.word = '{PROX_TERMS[1]}'
  AND abs(a.pos - b.pos) <= {PROX_WINDOW}
GROUP BY a.doc_id
""",
    description=f"proximity query: '{PROX_TERMS[0]}' within {PROX_WINDOW} "
    f"tokens of '{PROX_TERMS[1]}'",
    tags=("reference", "extension", "query"),
)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slop-k proximity retrieval — the relaxation between ``boolean_and``
    (same doc, any distance) and ``phrase_search`` (exact adjacency):
    count co-occurrences of two terms within ``PROX_WINDOW`` token
    positions.  Standard IR surface the reference's doc-level postings
    cannot answer (SURVEY.md §2.2: positions absent, `main.c++:138`).

    100 TB shape: both sides of the join are single posting lists
    (the token stream is filtered to the two query words before any
    shuffle), so the doc_id equi-join moves kilobytes per term; the
    position-window predicate filters after the hash join.  Against the
    stored positional index the same plan prunes to two letter
    partitions first (``phrase_search_stored`` shape).
    """
    toks = tokenize_with_positions(table(spark, sf_dir, "documents"))
    a = toks.filter(F.col("word") == PROX_TERMS[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = toks.filter(F.col("word") == PROX_TERMS[1]).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, "doc_id")
        .filter(F.abs(F.col("pos_a") - F.col("pos_b")) <= PROX_WINDOW)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )


# --------------------------------------------------------------------------
# posting_compression — delta-encoded posting storage analysis
# --------------------------------------------------------------------------


@register(
    "posting_compression",
    oracle=f"""
{SQL_TOKS_CTE}
, dedup AS (SELECT DISTINCT word, doc_id FROM toks)
, gaps AS (
  SELECT word,
         doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY word ORDER BY doc_id), 0)
           AS gap,
         doc_id
  FROM dedup
)
SELECT substr(word, 1, 1) AS letter,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(sum(length(bin(doc_id))) AS BIGINT) AS abs_bits,
       CAST(sum(length(bin(gap))) AS BIGINT) AS gap_bits,
       round(sum(length(bin(gap))) / CAST(sum(length(bin(doc_id))) AS DOUBLE), 4)
         AS ratio
FROM gaps GROUP BY substr(word, 1, 1)
""",
    description="delta-encoded posting storage: gap bits vs absolute bits per letter",
    tags=("reference", "storage", "compression", "scale"),
)
def q_posting_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-compression audit: posting lists are sorted doc-id runs, so
    storing successive GAPS (then varint/bit-packing them) is the
    classic inverted-index compression; this measures what it buys per
    letter shard — minimal binary digits for gaps vs absolute ids.  At
    25 B documents absolute ids cost ~35 bits while dense-word gaps fit
    in a few, so the ratio column is the sizing input for the stored
    index's real footprint.

    100 TB shape: ONE corpus shuffle — the flagship ``collect_set``
    aggregation on word — after which gaps, and both bit sums, are
    computed ARRAY-LOCALLY inside the posting arrays (a lag-window
    formulation would pay a second word-keyed exchange because the
    (word, doc_id) distinct does not co-partition by word alone); the
    26-letter rollup is the only other exchange.  Bit counts use
    ``bin()`` string length on both engines: exact integer logic,
    immune to cross-engine ``log2`` ulp drift.
    """
    docs = table(spark, sf_dir, "documents")
    postings = (
        tokenize_documents(docs)
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("p"))
    )
    bits_of = lambda c: F.length(F.bin(c))  # noqa: E731
    sum_bits = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + bits_of(x)
    )
    gaps = F.transform(
        "p",
        lambda x, i: x
        - F.when(i > 0, F.element_at(F.col("p"), i)).otherwise(F.lit(0)),
    )
    per_word = postings.select(
        F.substring("word", 1, 1).alias("letter"),
        F.size("p").alias("n"),
        sum_bits(F.col("p")).alias("abs_b"),
        sum_bits(gaps).alias("gap_b"),
    )
    return per_word.groupBy("letter").agg(
        F.sum("n").alias("n_postings"),
        F.sum("abs_b").alias("abs_bits"),
        F.sum("gap_b").alias("gap_bits"),
        F.round(
            F.sum("gap_b") / F.sum("abs_b").cast("double"), 4
        ).alias("ratio"),
    )


# --------------------------------------------------------------------------
# bucketed term lookup: the co-located storage layout on the query surface
# --------------------------------------------------------------------------

_BUCKETED_TABLES: dict[tuple[str, str], tuple[str, str]] = {}
CATALOG_BUCKETS = 8


def bucketed_catalog_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize (once per process) the doc-id-co-located storage pair
    over ``sf_dir``: the exploded (word, doc_id) postings and the
    document catalog (doc_id, lang, source), both bucketed AND
    bucket-sorted on doc_id with the same bucket count.

    This is the write-once-shuffle-never layout for the index
    enrichment joins a 100 TB corpus serves constantly (posting ->
    document metadata): matching buckets join with NO exchange on
    either side — the shuffle was paid once at ingest
    (``sources.sinks.write_bucketed``), not per query.  Returns
    (postings_table, catalog_table) names in the session catalog.
    """
    fp = table_fingerprint(sf_dir, "documents")
    got = _BUCKETED_TABLES.get((sf_dir, fp))
    if got is not None:
        return got
    from ..sources.sinks import write_bucketed

    safe = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    # fingerprint in the catalog names + path: a mutated corpus gets
    # fresh bucketed tables instead of stale catalog entries (r8)
    post_t, cat_t = f"postings_b_{safe}_{fp}", f"doc_catalog_b_{safe}_{fp}"
    # external per-process paths: a managed table's warehouse location
    # outlives the (in-memory) catalog entry, so a second process would
    # hit LOCATION_ALREADY_EXISTS on the same managed name
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_bucketed_{os.getpid()}")
    docs = table(spark, sf_dir, "documents")
    postings = build_index(docs).select(
        "word", F.explode("postings").alias("doc_id")
    )
    write_bucketed(
        postings, post_t, "doc_id", CATALOG_BUCKETS,
        path=os.path.join(base, post_t),
    )
    write_bucketed(
        docs.select("doc_id", "lang", "source"), cat_t, "doc_id", CATALOG_BUCKETS,
        path=os.path.join(base, cat_t),
    )
    _BUCKETED_TABLES[(sf_dir, fp)] = (post_t, cat_t)
    return post_t, cat_t


@register(
    "term_lookup_bucketed",
    oracle=f"""
{SQL_TOKS_CTE}
SELECT t.doc_id, t.word, d.lang, d.source
FROM (SELECT DISTINCT doc_id, word FROM toks WHERE word = '{TERM}') t
JOIN documents d USING (doc_id)
""",
    description="term lookup + metadata enrich over doc_id-bucketed storage (no-exchange join)",
    tags=("reference", "query", "storage", "scale"),
)
def q_term_lookup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's query side joined to document metadata through
    the bucketed layout: both tables are bucket-sorted on doc_id, so
    the join needs no shuffle of the catalog — at 100 TB the catalog
    is the fact-sized side and never moves
    (tests/test_plan_quality.py pins the zero-Exchange plan)."""
    post_t, cat_t = bucketed_catalog_tables(spark, sf_dir)
    p = spark.table(post_t).filter(F.col("word") == TERM)
    return (
        p.join(spark.table(cat_t), "doc_id")
        .select("doc_id", "word", "lang", "source")
    )


# --------------------------------------------------------------------------
# index_diff — audit of what an incremental maintenance cycle changed
# --------------------------------------------------------------------------


@register(
    "index_diff",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS word FROM documents
), dedup AS (
  SELECT DISTINCT word, doc_id FROM toks
), v1 AS (
  SELECT word, array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
         count(*) AS doc_freq
  FROM dedup WHERE doc_id % 5 <> 0 GROUP BY word
), v2 AS (
  SELECT word, array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
         count(*) AS doc_freq
  FROM dedup GROUP BY word
)
SELECT COALESCE(v1.word, v2.word) AS word,
       CASE WHEN v1.word IS NULL THEN 'added'
            WHEN v2.word IS NULL THEN 'removed'
            WHEN v1.postings <> v2.postings THEN 'changed'
            ELSE 'unchanged' END AS change,
       COALESCE(v2.doc_freq, 0) - COALESCE(v1.doc_freq, 0) AS df_delta
FROM v1 FULL OUTER JOIN v2 USING (word)
WHERE COALESCE(v1.postings, '') <> COALESCE(v2.postings, '')
""",
    description="index maintenance audit: per-word posting diff between two corpus versions",
    tags=("reference", "maintenance", "storage"),
)
def q_index_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit step of an incremental maintenance cycle
    (``index_merge`` proves delta-merge == rebuild; this reports WHAT
    the cycle changed): full-outer join of the index built before and
    after a batch of documents arrives (v1 = corpus minus every 5th
    doc, v2 = full corpus), emitting each word whose posting list
    changed, how (added / changed — removal is impossible when docs
    only arrive), and its doc-freq delta.

    Scale: both sides are vocabulary-sized aggregates sharing the word
    key, so the diff join co-partitions with zero extra exchanges
    beyond the two index builds; at 100 TB v1 is READ from the stored
    letter-partitioned index, not rebuilt, and the plan is one pruned
    scan + one vocab-sized join."""
    docs = table(spark, sf_dir, "documents")
    v1 = build_index(docs.filter(F.col("doc_id") % 5 != 0)).select(
        "word",
        F.concat_ws(" ", F.transform("postings", lambda d: d.cast("string"))).alias("p1"),
        F.col("doc_freq").alias("df1"),
    )
    v2 = build_index(docs).select(
        "word",
        F.concat_ws(" ", F.transform("postings", lambda d: d.cast("string"))).alias("p2"),
        F.col("doc_freq").alias("df2"),
    )
    j = v1.join(v2, "word", "full_outer")
    return (
        j.filter(
            F.coalesce("p1", F.lit("")) != F.coalesce("p2", F.lit(""))
        ).select(
            "word",
            F.when(F.col("p1").isNull(), "added")
            .when(F.col("p2").isNull(), "removed")
            .when(F.col("p1") != F.col("p2"), "changed")
            .otherwise("unchanged")
            .alias("change"),
            (F.coalesce("df2", F.lit(0)) - F.coalesce("df1", F.lit(0))).alias(
                "df_delta"
            ),
        )
    )


# --------------------------------------------------------------------------
# snippet_extract — search-result context windows around a term hit
# --------------------------------------------------------------------------

SNIPPET_RADIUS = 5


@register(
    "snippet_extract",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
), hit AS (
  SELECT doc_id, toks, list_position(toks, '{TERM}') AS pos FROM t
)
SELECT doc_id, pos,
       array_to_string(
         toks[greatest(pos - {SNIPPET_RADIUS}, 1) : pos + {SNIPPET_RADIUS}],
         ' ') AS snippet
FROM hit WHERE pos > 0
""",
    description=f"search snippets: +/-{SNIPPET_RADIUS}-token window around the first '{TERM}' hit",
    tags=("reference", "query", "text"),
)
def q_snippet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The result-rendering half of the query side: for every document
    containing the term, the token window around its FIRST occurrence
    (what a search UI shows under each hit).  Pure array-local math in
    one projection — ``array_position`` then a clipped ``slice`` — so
    the plan is a single scan with zero shuffles at any scale; at
    100 TB the doc_id set comes from the pruned stored index and this
    runs over the semi-joined slice only."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens_of(F.col("text"))
    hit = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.array_position(toks, TERM).alias("pos"),
    ).filter(F.col("pos") > 0)
    start = F.greatest(F.col("pos") - SNIPPET_RADIUS, F.lit(1))
    length = (F.col("pos") + SNIPPET_RADIUS) - start + 1
    return hit.select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("toks", start, length)).alias("snippet"),
    )

"""Deduplication operators (north-star extension, SURVEY.md §2.3).

The LLM-corpus dedup ladder over ``documents``:

  exact_dedup          content-hash groupBy                    (oracle-checked)
  ngram_jaccard_dedup  exact shingle-set Jaccard pair join     (oracle-checked)
  minhash_lsh_dedup    MinHash signatures + LSH band buckets   (rows-only; exact
                       Jaccard re-verified inside the query, so
                       every emitted pair is a TRUE near-dup)
  simhash_dedup        64-bit SimHash + combination banding    (rows-only)

Scale posture: every pair-generating join goes through a sparse
bucket key (shingle / LSH band / SimHash block combo), never a cross join.
At 100 TB the bucket join is the standard banding trick: candidates
are only docs sharing a bucket, and hot buckets (stop-shingles) are
the skew risk.  Every bucket join here enforces a HOT-KEY CAP: join
keys whose group size exceeds the cap are dropped before the self-join
(the key's pair count is group², so one stop-shingle shared by 10^6
docs would otherwise emit 10^12 pairs).  The hot set is tiny by
construction (few keys can exceed the cap), so it broadcasts and the
exclusion is a map-side anti-join — no extra shuffle.  Dropped keys
carry no similarity signal by definition (a feature shared by
everything distinguishes nothing), so for candidate generation the cap
costs only degenerate recall; for the exact Jaccard join it makes hot
shingles count toward the union but not the intersection
(conservative: scores can only drop, and only for pairs whose overlap
was mostly stop-shingles).  Defaults never trigger at fixture scale,
so oracle parity is byte-identical.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..data import materialize, table
from ..functions.text import canonical_text, sql_canonical, sql_tokens, tokens_of
from ..registry import register

# The SimHash pandas_udf below runs in Python workers; ship it by value
# (same rationale as operators/multimodal.py).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# --------------------------------------------------------------------------
# exact_dedup
# --------------------------------------------------------------------------


@register(
    "exact_dedup",
    oracle="""
WITH h AS (
  SELECT doc_id, sha256(text) AS content_hash FROM documents
)
SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       count(*) AS n_copies,
       content_hash
FROM h GROUP BY content_hash
""",
    description="exact dedup by sha256(content): keep lowest doc_id per group",
    tags=("dedup",),
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on the 256-bit hash — the canonical exact-dedup plan.
    (``dropDuplicates`` would pick an arbitrary survivor; min(doc_id)
    makes the choice deterministic and oracle-checkable.)"""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keeper_doc_id", "n_copies", "content_hash")
    )


# --------------------------------------------------------------------------
# shingles (shared by the near-dup family)
# --------------------------------------------------------------------------

SHINGLE_N = 3


# DataType object (not DDL string): a string return type would need an
# active SparkContext at import time.
@F.pandas_udf(T.ArrayType(T.StringType()))
def _shingle_udf(tokens: pd.Series) -> pd.Series:
    """Distinct word-``SHINGLE_N``-grams per document, Arrow-vectorized.

    The equivalent Spark higher-order expression (``transform(sequence,
    i -> concat_ws(slice(...)))``) is interpreted per gram and gets
    re-evaluated wherever projection collapse inlines it — measured
    ~5 ms/doc vs ~0.5 us/gram here.  ``dict.fromkeys`` dedups while
    keeping first-occurrence order, same as ``array_distinct``.
    """
    n = SHINGLE_N
    out = []
    for t in tokens:
        if len(t) >= n:
            out.append(
                list(dict.fromkeys(" ".join(t[i : i + n]) for i in range(len(t) - n + 1)))
            )
        else:
            out.append([])
    return pd.Series(out)


def shingles_of(text_col) -> "F.Column":
    """Distinct word-``SHINGLE_N``-grams of a document (tokens stay
    JVM-side so normalizer semantics live in one place)."""
    return _shingle_udf(tokens_of(text_col))


SQL_SHINGLES = f"""
  list_distinct(list_transform(
    generate_series(1, greatest(len({{t}}) - {SHINGLE_N - 1}, 0)),
    i -> array_to_string({{t}}[i:i+{SHINGLE_N - 1}], ' ')))
"""


def sql_shingles(tokens_expr: str) -> str:
    return SQL_SHINGLES.format(t=tokens_expr)


JACCARD_THRESHOLD = 0.5

# Hot-key caps for the pair-generating bucket joins.  A key shared by g
# docs contributes g² candidate pairs, so one stop-shingle shared by
# 10^6 docs would emit 10^12 pairs from a single key.  Keys above the
# cap are dropped before the self-join.  The defaults exceed the whole
# fixture corpus (so fixture results — and the DuckDB oracle hashes —
# are bit-identical); production sets them to O(10^3).
HOT_SHINGLE_CAP = 100_000
HOT_BAND_CAP = 100_000


def _drop_hot_keys(ex: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Remove rows whose join-key group size exceeds ``cap``.

    Group sizes come from a COUNT WINDOW over the join key, not a
    separate aggregate + anti-join: the window shares the key exchange
    the self-join needs anyway (both join sides are the identical
    filtered subplan, so ReuseExchange collapses them), and the
    expensive upstream (the shingle UDF) runs ONCE — a second
    count-branch would re-execute it.  The window buffers O(group)
    rows per key with spill, which is exactly the linear cost we
    accept to avoid the join's O(group²) output.
    """
    w = Window.partitionBy(*keys)
    return (
        ex.withColumn("_kc", F.count(F.lit(1)).over(w))
        .filter(F.col("_kc") <= cap)
        .drop("_kc")
    )


@register(
    "ngram_jaccard_dedup",
    oracle=(NGRAM_JACCARD_ORACLE := f"""
WITH sh AS (
  SELECT doc_id, {sql_shingles(sql_tokens('text'))} AS shingles FROM documents
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
         count(*) AS n_common
  FROM (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) a
  JOIN (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common / (na + nb - n_common), 6) AS jaccard
FROM pairs
WHERE n_common / (na + nb - n_common) >= {JACCARD_THRESHOLD}
"""),
    description="exact n-gram Jaccard near-dup pairs via sparse shingle join",
    tags=("dedup",),
)
def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(table(spark, sf_dir, "documents"))


def shingle_pair_counts(docs: DataFrame, hot_cap: int = HOT_SHINGLE_CAP) -> DataFrame:
    """Per-pair shingle overlap counts (doc_a, doc_b, na, nb, n_common)
    — the shared candidate-generation core of the set-similarity dedup
    family (Jaccard and containment score the same counts differently).

    Candidate pairs come only from docs SHARING a shingle — the join
    key is the shingle, so cost is sum over shingles of group^2, not
    n_docs^2.  Map-side the shingle arrays are deduped (array_distinct
    semantics in the UDF) and the join key is xxhash64(shingle): an
    8-byte shuffle key instead of a ~20-byte string (64-bit collisions
    across a corpus vocabulary are ~2^-40-scale and would only perturb
    one pair's intersection count by 1).

    Shingles shared by more than ``hot_cap`` docs are dropped before
    the join (the 100 TB stop-shingle guard — see module docstring):
    they still count in each doc's set size ``n_sh`` but contribute
    nothing to the intersection, so a capped run can only LOWER a
    pair's score — and only for pairs whose overlap was mostly
    stop-shingles, which is exactly the overlap that carries no
    signal.  The default cap never triggers at fixture scale."""
    # NO n_sh > 0 pre-filter here: an empty shingle array explodes to
    # zero rows anyway, and the filter is worse than dead weight — its
    # size(shingles) predicate gets pushed below the scan-spread
    # exchange WITH a duplicated copy of the shingle-UDF evaluation
    # (measured: the UDF ran twice in one linear chain), because a
    # Python UDF's resultId defeats common-subexpression reuse.
    sh = docs.select(
        "doc_id", shingles_of(F.col("text")).alias("shingles")
    ).withColumn("n_sh", F.size("shingles"))
    ex = sh.select(
        "doc_id", "n_sh", F.explode("shingles").alias("s")
    ).select("doc_id", "n_sh", F.xxhash64("s").alias("h"))
    ex = _drop_hot_keys(ex, ["h"], hot_cap)
    # No store before the self-join: both sides are the identical
    # window-filtered subplan, so the final adaptive plan runs the
    # shingle UDF once and the second side reads a ReusedExchange
    # (pinned by test_shingle_pair_counts_reuses_one_python_pass), and
    # the build runs no Spark job.
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.first("a.n_sh").alias("na"),
            F.first("b.n_sh").alias("nb"),
            F.count("*").alias("n_common"),
        )
    )


def jaccard_pairs(docs: DataFrame, hot_cap: int = HOT_SHINGLE_CAP) -> DataFrame:
    """Exact-Jaccard near-dup pairs (doc_a, doc_b, jaccard); see
    :func:`shingle_pair_counts` for the candidate join's scale story."""
    pairs = shingle_pair_counts(docs, hot_cap)
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# containment_dedup
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


@register(
    "containment_dedup",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {sql_shingles(sql_tokens('text'))} AS shingles FROM documents
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
         count(*) AS n_common
  FROM (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) a
  JOIN (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common / least(na, nb), 6) AS containment,
       round(n_common / (na + nb - n_common), 6) AS jaccard
FROM pairs
WHERE n_common / least(na, nb) >= {CONTAINMENT_THRESHOLD}
""",
    description="shingle-containment pairs: doc-inside-doc inclusions Jaccard misses",
    tags=("dedup",),
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(table(spark, sf_dir, "documents"))


def containment_pairs(docs: DataFrame, hot_cap: int = HOT_SHINGLE_CAP) -> DataFrame:
    """Asymmetric set-containment pairs: C(A,B) = |A∩B| / min(|A|,|B|).

    Detects a short document embedded inside a long one (quoted
    passages, boilerplate-wrapped reposts) — exactly the inclusion
    case where Jaccard stays LOW because the union is dominated by the
    long side, so a Jaccard-thresholded dedup pass never sees it.  The
    emitted ``jaccard`` column makes that gap visible per pair.

    Same candidate engine as :func:`jaccard_pairs`
    (:func:`shingle_pair_counts`): one shingle-keyed sparse self-join,
    hot-key capped, never all-pairs — scoring is a per-pair arithmetic
    change, so the 100 TB posture is identical.  The cap interacts
    conservatively here too: dropped hot shingles still count in
    ``min(na, nb)`` but not in ``n_common``, so scores can only drop.
    """
    pairs = shingle_pair_counts(docs, hot_cap)
    cont = F.col("n_common") / F.least("na", "nb")
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.filter(cont >= CONTAINMENT_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.round(cont, 6).alias("containment"),
        F.round(jac, 6).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# substring_dedup
# --------------------------------------------------------------------------

SUBSTR_K = 8  # span length in tokens


@F.pandas_udf(T.ArrayType(T.StringType()))
def _span_udf(tokens: pd.Series) -> pd.Series:
    """POSITIONAL ``SUBSTR_K``-token spans per document — one per start
    position, NOT distinct (position identity drives coverage math).
    Same Arrow-vectorized shape as ``_shingle_udf`` and for the same
    measured reason (the higher-order-function form re-evaluates per
    gram under projection collapse)."""
    k = SUBSTR_K
    out = []
    for t in tokens:
        if len(t) >= k:
            out.append([" ".join(t[i : i + k]) for i in range(len(t) - k + 1)])
        else:
            out.append([])
    return pd.Series(out)


@register(
    "substring_dedup",
    oracle=f"""
WITH tok AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
sized AS (SELECT doc_id, t, len(t) AS n_tok FROM tok),
spans AS (
  SELECT doc_id, n_tok, i AS pos, array_to_string(t[i:i+{SUBSTR_K - 1}], ' ') AS s
  FROM (SELECT doc_id, n_tok, t,
               unnest(generate_series(1, greatest(n_tok - {SUBSTR_K - 1}, 0))) AS i
        FROM sized)
),
dup AS (SELECT s FROM spans GROUP BY s HAVING min(doc_id) <> max(doc_id)),
dspan AS (SELECT sp.doc_id, sp.n_tok, sp.pos FROM spans sp JOIN dup USING (s)),
cov AS (SELECT doc_id, n_tok, pos,
               unnest(generate_series(pos, pos + {SUBSTR_K - 1})) AS cp
        FROM dspan)
SELECT doc_id, any_value(n_tok) AS n_tokens,
       count(DISTINCT pos) AS n_dup_spans,
       count(DISTINCT cp) AS n_dup_tokens,
       round(count(DISTINCT cp) * 1.0 / any_value(n_tok), 6) AS dup_fraction
FROM cov GROUP BY doc_id
""",
    description="cross-doc duplicated k-token spans: per-doc duplicated-token coverage",
    tags=("dedup", "text"),
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_profile(table(spark, sf_dir, "documents"))


def substring_dup_profile(docs: DataFrame) -> DataFrame:
    """Exact cross-document substring-duplication profile — the span
    analogue of training-data dedup's "remove repeated 50-token runs"
    pass (Lee et al. 2021 semantics, done with Spark set operators
    instead of a suffix array): a ``SUBSTR_K``-token span is duplicated
    iff it occurs in >= 2 DISTINCT documents, and each document reports
    how many of its spans and token positions that covers.  Positional
    coverage is what distinguishes this from ``duplicate_ngram_spans``
    (`training.py`): that query scores the DISTINCT-shingle share per
    doc (a screening signal); this one identifies which token runs are
    duplicated — the information a span-cutting pass needs.

    Scale shape (the whole point): the duplicated test is a
    ``min(doc_id) != max(doc_id)`` WINDOW over the span-hash partition
    of the exploded stream — never an all-pairs join, and no aggregate
    joined back, so the span kernel runs ONCE (the join-back form
    duplicated the corpus-sized UDF subtree per branch whenever AQE
    broadcast the key side; same lesson as ``duplicate_ngram_spans``).
    The span strings exist only inside the doc-local Arrow batch; the
    one corpus-sized exchange carries 8-byte hashes.  Coverage explodes
    only DUPLICATED spans (rare by volume) into at most ``SUBSTR_K``
    positions each.  ``n_tok`` is derived doc-locally from the span
    count, so the corpus is tokenized exactly once.  Skew honesty: a
    boilerplate span shared by millions of docs lands its window group
    in one task (AQE splits join partitions, not window partitions) —
    the same exposure ``duplicate_ngram_spans`` documents.  Output:
    docs with at least one duplicated span.
    """
    sp = docs.select(
        "doc_id", _span_udf(tokens_of(F.col("text"))).alias("spans")
    )
    ex = sp.select(
        "doc_id", F.size("spans").alias("n_spans"),
        F.posexplode("spans").alias("pos", "s"),
    ).select(
        "doc_id",
        (F.col("n_spans") + SUBSTR_K - 1).cast("bigint").alias("n_tok"),
        "pos",
        F.xxhash64("s").alias("h"),
    )
    w = Window.partitionBy("h")
    d = ex.withColumn("mn", F.min("doc_id").over(w)).withColumn(
        "mx", F.max("doc_id").over(w)
    ).filter(F.col("mn") != F.col("mx"))
    cov = d.select(
        "doc_id", "n_tok", "pos",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + SUBSTR_K - 1)).alias("cp"),
    )
    # r13 (optimization round, guide §2.3): ONE distinct aggregate, not
    # two — positions are unique per doc by construction (posexplode
    # emits each once; the window filter only drops rows) and every
    # span explodes to exactly SUBSTR_K coverage rows, so
    # countDistinct(pos) == count(*) / SUBSTR_K, exactly.  Two distinct
    # aggregates forced an Expand that DOUBLED the duplicated-coverage
    # stream through the doc_id exchange; with one distinct Spark plans
    # a plain two-phase aggregate on (doc_id, cp) instead.
    out = cov.groupBy("doc_id").agg(
        F.first("n_tok").alias("n_tokens"),
        (F.count("*") / SUBSTR_K).cast("long").alias("n_dup_spans"),
        F.countDistinct("cp").alias("n_dup_tokens"),
    )
    return out.select(
        "doc_id", "n_tokens", "n_dup_spans", "n_dup_tokens",
        F.round(F.col("n_dup_tokens") / F.col("n_tokens"), 6).alias("dup_fraction"),
    )


# --------------------------------------------------------------------------
# minhash_lsh_dedup
# --------------------------------------------------------------------------

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each
BAND_ROWS = MINHASH_K // LSH_BANDS


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, n_sh) with empty-set docs dropped — the shared
    input of every MinHash stage."""
    return (
        docs.select("doc_id", shingles_of(F.col("text")).alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
        .filter(F.col("n_sh") > 0)
    )


def _minhash_band_table(sh: DataFrame, band_cap: int) -> DataFrame:
    """(doc_id, band, bh): the LSH banding of each doc's MinHash
    signature — signature rows are min(xxhash64(shingle, seed)), a
    band's key is the hash of its rows.  This is the table a stored
    dedup pipeline MATERIALIZES at ingest (LSH_BANDS small rows per
    doc), so later batches join against it without touching text."""
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    sig = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"mh{i}")
            for i in range(MINHASH_K)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col(f"mh{bi * BAND_ROWS + r}") for r in range(BAND_ROWS)]
                        ).alias("bh"),
                    )
                    for bi in range(LSH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")
    return _drop_hot_keys(bands, ["band", "bh"], band_cap)


@register(
    "minhash_lsh_dedup",
    oracle=None,  # banding uses xxhash64 — not portable SQL; every pair is
    # exact-verified inside the query, and tests assert it is a subset of
    # the oracle-checked ngram_jaccard_dedup result.
    description="MinHash(16) + LSH(4x4) candidate pairs, exact-Jaccard verified",
    tags=("dedup", "approx"),
)
def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pairs(table(spark, sf_dir, "documents"))


def minhash_pairs(docs: DataFrame, band_cap: int = HOT_BAND_CAP) -> DataFrame:
    """Classic banding: signature rows are min(xxhash64(shingle, seed));
    docs agreeing on ALL rows of any band become candidates; candidates
    are re-verified with exact Jaccard so precision is 1.0 and only
    recall is approximate.  Shuffles: one agg for signatures, one
    band-bucket join, one verify join — all on sparse keys.

    Band buckets larger than ``band_cap`` are dropped before the
    candidate self-join (the 100 TB hot-bucket guard): a bucket of g
    docs is g² candidate pairs, and a degenerate bucket (boilerplate
    corpus, all-identical band) would otherwise dominate the stage.
    Capping affects RECALL only — precision stays 1.0 because every
    surviving candidate is exact-Jaccard verified against the full
    shingle sets.

    The verify side re-shingles CANDIDATE DOCS ONLY (r7): the
    candidate pair set is MATERIALIZED (the same signature-store
    checkpoint ``jaccard_prefix_dedup`` uses — without it the id
    semi-join would re-execute the whole signature DAG, measured 2x),
    then a left-semi join on its doc ids filters the corpus BEFORE the
    shingle expression is evaluated, so the exact-verification pass
    costs shingle work proportional to |candidates|, not |corpus| —
    previously the whole corpus was re-shingled and the join dropped
    the non-candidates after the fact.  Recomputing (rather than
    carrying shingle sets through the signature aggregation) stays the
    right trade: sets through the shuffle would put the full token
    stream on the wire; the semi-join costs one bounded id exchange."""
    sh = _shingle_sets(docs)
    bands = _minhash_band_table(sh, band_cap)

    ba = bands.alias("x")
    bb = bands.alias("y")
    cand = (
        ba.join(
            bb,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )

    # exact verification join (precision = 1.0) — shingle only the
    # docs that appear in a candidate pair (bounded by the band join);
    # materialize so the two consumers (ids, verify join) run the
    # signature DAG once
    cand = materialize(cand)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # The verify join consumes ``sets`` TWICE (doc_a side and doc_b
    # side), and without a store each side re-ran scan + semi-join +
    # shingle UDF — two extra ArrowEvalPython passes in the executed
    # plan.  Materialize the candidate-bounded shingle store once (the
    # same signature-store rule as contamination_check); both join
    # sides read the checkpointed table: 4 Python eval nodes -> 2.
    sets = materialize(
        _shingle_sets(docs.join(cand_ids, "doc_id", "left_semi")).select(
            "doc_id", "shingles", "n_sh"
        )
    )
    verified = (
        cand.join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return verified.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# simhash_dedup
# --------------------------------------------------------------------------

SIMHASH_BITS = 64
HAMMING_MAX = 3
# Combination banding (Manku et al., WWW'07 "Detecting Near-Duplicates
# for Web Crawling"): split the 64-bit fingerprint into 5 blocks
# (13,13,13,13,12 bits) and key candidates on every C(5,2)=10
# concatenation of 2 blocks.  hamming<=3 flips bits in at most 3
# blocks, so at least 2 blocks are identical and some 2-combination
# matches — exact recall, same pigeonhole as the earlier 4x16-bit
# single-chunk scheme, but the join key is ~26 bits instead of 16:
# expected RANDOM-collision candidates drop from 4*n^2/2^17 to
# 10*n^2/2^27.  At 1.28M docs the 16-bit collision term (~50M
# spurious candidates) is already comparable to the corpus's true
# pair volume and purely quadratic — it overtakes everything by
# ~10M docs; 26-bit keys defer that wall to ~50M docs.  The combo
# count is the tuning knob: C(6,3)=20 three-block combos (~33-bit
# keys) push the wall out further still, but every TRUE duplicate
# pair then matches up to 20 combos (vs 10 here, 4 before), and at
# <=1.28M docs that duplicate-match multiplicity measurably
# outweighs the collision savings (x256 sweep: 30.5 s for 6/3 vs
# 23.7 s here vs 22-24 s for 4x16) — 2 blocks per key is the
# measured sweet spot; see SCALE.md's x256 notes.
_SIMHASH_BLOCKS = [(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)]
_SIMHASH_COMBOS = [(i, j) for i in range(5) for j in range(i + 1, 5)]
# 10 combos; combo id (4 bits) + 2 blocks (<=26 bits) pack into one long


# DataType object (not DDL string): a string return type would need an
# active SparkContext at import time.
@F.pandas_udf(T.LongType())
def simhash_of(hashes: pd.Series) -> pd.Series:
    """64-bit SimHash from a pre-computed ``array<long>`` column of token
    hashes: per bit, sum +/-1 votes over the hashes; bit set iff the
    vote sum is positive.

    Arrow-vectorized: the per-doc bit matrix is one numpy broadcast
    (n_hashes x 64), so cost is a few ns per (hash, bit) cell — the
    equivalent Spark higher-order expression is interpreted per cell
    (~100x slower, measured).  xxhash64 stays JVM-side so the hash
    values are engine-deterministic.
    """
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).view(np.int64)
    out = np.zeros(len(hashes), dtype=np.int64)
    for i, h in enumerate(hashes):
        a = np.asarray(h, dtype=np.int64).view(np.uint64)
        if a.size == 0:
            continue
        ones = ((a[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
        votes = 2 * ones.astype(np.int64) - np.int64(a.size)
        out[i] = np.bitwise_or.reduce(weights[votes > 0]) if (votes > 0).any() else 0
    return pd.Series(out)


_BIT_WEIGHTS64 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def pack_bits64(bits: "np.ndarray") -> int:
    """64 booleans -> SIGNED int64 (Spark LongType), bit i = bits[i].
    The one packing convention every hamming family (simhash, pHash,
    audio fingerprint) must share so bit_count(xor) distances are
    comparable and the banding operates on the same lanes."""
    val = (
        np.bitwise_or.reduce(_BIT_WEIGHTS64[bits])
        if bits.any()
        else np.uint64(0)
    )
    return int(val.astype(np.int64))


def banding_census(
    s: DataFrame, sig_col: str, twins: DataFrame
) -> DataFrame:
    """The shared guarantee check of the hamming families, one row:

    * ``banding_lossless`` — the banded candidate join equals a
      BRUTE-FORCE all-pairs hamming scan over the signature table
      (same pairs, same distances; the census's deliberate n² expense,
      verification only);
    * ``n_twin_pairs`` / ``twins_found_h0`` — every pair in ``twins``
      (doc_a, doc_b; the caller's closed-form fixture pairs whose
      signatures must be IDENTICAL, e.g. codec or gain twins) was
      found at hamming exactly 0.

    Callers rename the columns to their family-specific oracle names.
    """
    band = hamming_band_pairs(s, sig_col)
    a, b = s.alias("a"), s.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
            ).alias("h_ex"),
        )
        .filter(F.col("h_ex") <= HAMMING_MAX)
    )
    both = band.join(brute, ["doc_a", "doc_b"], "full_outer")
    lossless = both.agg(
        F.coalesce(
            F.bool_and(
                F.col("hamming").isNotNull()
                & F.col("h_ex").isNotNull()
                & (F.col("hamming") == F.col("h_ex"))
            ),
            F.lit(True),
        ).alias("banding_lossless")
    )
    found = twins.join(
        band.filter(F.col("hamming") == 0), ["doc_a", "doc_b"], "left_semi"
    )
    counts = twins.agg(F.count("*").alias("n_twins")).crossJoin(
        found.agg(F.count("*").alias("n_found"))
    )
    return counts.crossJoin(lossless).select(
        F.col("n_twins").cast("long").alias("n_twin_pairs"),
        (F.col("n_found") == F.col("n_twins")).alias("twins_found_h0"),
        "banding_lossless",
    )


def combo_chunks(s: DataFrame, sig_col: str) -> DataFrame:
    """(doc_id, <sig_col>, cv): each signature exploded into its 10
    two-block combination keys — the banding table a stored dedup
    pipeline persists at ingest (10 longs per doc), and the shared
    candidate layer of both the full self-join (hamming_band_pairs)
    and the incremental delta-vs-base join (phash.py)."""

    def _combo_key(ci: int, combo: tuple) -> F.Column:
        # (combo_id << 26) | block_i << 13 | block_j — one long per
        # combo; every block occupies a FIXED 13-bit lane (the 12-bit
        # tail block is zero-padded), so the payload is always exactly
        # 26 bits and the combo-id prefix makes the 10 combos' key
        # spaces disjoint — a single-column equi-join covers them all
        # with no cross-combo collisions.  (Variable-width packing
        # overlapped ranges: ci=3<<25 could collide with ci=6..7's
        # payloads — correctness was saved by distinct + bit_count
        # verification, but the spurious candidates cost real work.)
        v = F.lit(ci).cast("long")
        for b in combo:
            off, width = _SIMHASH_BLOCKS[b]
            block = F.shiftrightunsigned(F.col(sig_col), off).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            v = F.shiftleft(v, 13).bitwiseOR(block)
        return v

    return s.select(
        "doc_id",
        sig_col,
        F.explode(
            F.array(
                *[
                    _combo_key(ci, combo)
                    for ci, combo in enumerate(_SIMHASH_COMBOS)
                ]
            )
        ).alias("cv"),
    )


def hamming_band_pairs(
    s: DataFrame, sig_col: str, hamming_max: int = HAMMING_MAX
) -> DataFrame:
    """Combination-banding candidate join + bit_count verify over a
    64-bit signature table ``(doc_id, <sig_col>)`` → ``(doc_a, doc_b,
    hamming)`` with ``hamming <= hamming_max`` — EXACT recall by
    pigeonhole (see _SIMHASH_BLOCKS): hamming<=3 flips bits in at most
    3 of the 5 blocks, so at least 2 blocks are intact and some
    2-block combination key matches.  Shared by ``simhash_dedup``
    (text fingerprints) and ``multimodal_phash_dedup`` (image
    perceptual hashes) — the banding is signature-agnostic; only the
    hash function differs.

    The caller should pass a MATERIALIZED signature table: a Python
    UDF's resultId defeats canonical plan equality, so an
    unmaterialized input makes the self-join's two sides each re-run
    the signature kernel over the whole corpus."""
    if hamming_max != HAMMING_MAX:
        raise ValueError(
            "the 5-block/2-combo banding is exact only for hamming<=3"
        )
    chunks = combo_chunks(s, sig_col)
    x = chunks.alias("x")
    y = chunks.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col(f"x.{sig_col}").alias("sa"),
            F.col(f"y.{sig_col}").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(ham <= hamming_max).select(
        "doc_a", "doc_b", ham.alias("hamming")
    )


@register(
    "simhash_dedup",
    oracle=None,  # bit-level xxhash64 arithmetic is not portable SQL;
    # tests validate symmetry/threshold properties instead.
    description="SimHash64 near-dup pairs: 5-block combination banding + hamming<=3",
    tags=("dedup", "approx"),
)
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combination banding via ``hamming_band_pairs`` — the combo-key
    join finds every qualifying pair (no recall loss), then
    bit_count(xor) verifies."""
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens_of(F.col("text"))), lambda w: F.xxhash64(w)
        ).alias("hashes"),
    )
    # materialize the signature table (doc_id, simhash — 16 bytes/row,
    # the store a dedup pipeline persists at ingest anyway); see
    # hamming_band_pairs for why.
    s = materialize(
        hashed.select("doc_id", simhash_of(F.col("hashes")).alias("simhash"))
    )
    return hamming_band_pairs(s, "simhash")


# --------------------------------------------------------------------------
# near_dup_clusters — connected components over the near-dup pair graph
# --------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Min-label propagation to a fixpoint: (doc_id, cluster_id) where
    cluster_id is the minimum doc_id in the component.

    ``edges`` must be undirected (both directions present).  Each round
    every node adopts min(own label, neighbors' labels); convergence
    takes at most ``diameter`` rounds (near-dup components are shallow —
    dup clusters are quasi-cliques, so 2-4 rounds in practice; the
    large-star/small-star variant that halves round count is not worth
    its extra shuffles here).

    Iterative lineage is truncated every round with ``materialize``
    (``localCheckpoint`` locally; the reliable ``checkpoint`` whenever
    the session has ``sc.setCheckpointDir`` configured, so a cluster
    run survives executor loss) — without it each round's plan
    re-plans all prior rounds and driver planning time grows
    quadratically.
    """
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .transform(materialize)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new = (
            labels.withColumnRenamed("label", "old_label")
            .join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                "old_label",
                F.least(
                    F.col("old_label"), F.coalesce("nlabel", "old_label")
                ).alias("label"),
            )
            .transform(materialize)
        )
        changed = new.filter(F.col("label") != F.col("old_label")).limit(1).count()
        labels = new.select("doc_id", "label")
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


@register(
    "near_dup_clusters",
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {sql_shingles(sql_tokens('text'))} AS shingles FROM documents
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
         count(*) AS n_common
  FROM (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) a
  JOIN (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jac AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE n_common / (na + nb - n_common) >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL
  SELECT doc_b, doc_a FROM jac
), reach AS (
  SELECT src AS doc_id, src AS root FROM edges
  UNION
  SELECT e.dst AS doc_id, r.root
  FROM reach r JOIN edges e ON e.src = r.doc_id
), assign AS (
  SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM assign
""",
    description="near-dup clustering: connected components over Jaccard pairs",
    tags=("dedup", "iterative"),
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline a training corpus needs: pair candidates
    (exact Jaccard >= JACCARD_THRESHOLD) -> transitive closure ->
    one keeper per cluster (cluster_id IS the min doc_id, so "keep
    cluster_id, drop the rest" is the retention policy).  The oracle
    computes the same closure as a recursive CTE — exhaustive
    transitive reachability, feasible only at oracle scale; the engine
    side is the scalable iterative min-label propagation."""
    # Materialize the pair set ONCE before iterating: every label-
    # propagation round joins the edges, and without this checkpoint
    # each round would re-run the whole shingle/join pipeline.
    pairs = (
        jaccard_pairs(table(spark, sf_dir, "documents"))
        .select("doc_a", "doc_b")
        .transform(materialize)
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    assign = connected_components(edges)
    w_size = Window.partitionBy("cluster_id")
    return assign.select(
        "doc_id", "cluster_id", F.count("*").over(w_size).alias("cluster_size")
    )


# --------------------------------------------------------------------------
# dedup_keep_best — retention policy: keep the best doc per cluster
# --------------------------------------------------------------------------


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {sql_shingles(sql_tokens('text'))} AS shingles FROM documents
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
         count(*) AS n_common
  FROM (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) a
  JOIN (SELECT doc_id, n_sh, unnest(shingles) AS s FROM sized) b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jac AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE n_common / (na + nb - n_common) >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL SELECT doc_b, doc_a FROM jac
), reach AS (
  SELECT src AS doc_id, src AS root FROM edges
  UNION
  SELECT e.dst AS doc_id, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
), assign AS (
  SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
), q AS (
  SELECT doc_id,
         round(least(len({sql_tokens('text')}) / 64.0, 1.0)
               * (1 - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                      / greatest(length(text), 1)), 6) AS quality
  FROM documents
), ranked AS (
  SELECT a.cluster_id, a.doc_id, q.quality,
         row_number() OVER (PARTITION BY a.cluster_id
                            ORDER BY q.quality DESC, a.doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY a.cluster_id) AS n_members
  FROM assign a JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS keeper_doc_id, n_members, quality AS keeper_quality
FROM ranked WHERE rk = 1
""",
    description="retention policy: keep the highest-quality doc per near-dup cluster",
    tags=("dedup", "iterative", "curation"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``near_dup_clusters`` answers WHICH docs are duplicates; this
    answers which one to KEEP — argmax by the same per-doc quality
    score the pipeline's gate uses (ties: lower doc_id), instead of the
    naive keep-min-doc_id.  Real curation keeps the best-written copy,
    not the first-crawled one.

    Scale: the pair graph + label propagation are the proven
    ``near_dup_clusters`` path (checkpointed edge set, vocab-free);
    the quality join touches one corpus projection, and the argmax is
    a per-cluster WindowGroupLimit over cluster-sized groups (dup
    clusters are small by construction — giant clusters mean the
    threshold, not the engine, is wrong)."""
    docs = table(spark, sf_dir, "documents")
    pairs = (
        jaccard_pairs(docs).select("doc_a", "doc_b").transform(materialize)
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    assign = connected_components(edges)
    # same formula as pipeline.q_quality_filter (inlined: pipeline
    # imports this module, so the dependency can't point back)
    t = tokens_of(F.col("text"))
    quality = docs.select(
        "doc_id",
        F.round(
            F.least(F.size(t) / F.lit(64.0), F.lit(1.0))
            * (
                1
                - F.size(
                    F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9 ]"), 0)
                )
                / F.greatest(F.length("text"), F.lit(1))
            ),
            6,
        ).alias("quality"),
    )
    j = assign.join(quality, "doc_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    w_size = Window.partitionBy("cluster_id")
    return (
        j.withColumn("rk", F.row_number().over(w_rank))
        .withColumn("n_members", F.count("*").over(w_size))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            "n_members",
            F.col("quality").alias("keeper_quality"),
        )
    )


# --------------------------------------------------------------------------
# incremental_dedup — dedup the arriving delta against the existing corpus
# --------------------------------------------------------------------------


@register(
    "incremental_dedup",
    oracle="""
WITH base AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 5 <> 0
), delta AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 5 = 0
)
SELECT d.doc_id,
       EXISTS (SELECT 1 FROM base b WHERE b.h = d.h) AS dup_of_base,
       EXISTS (SELECT 1 FROM delta d2
               WHERE d2.h = d.h AND d2.doc_id < d.doc_id) AS dup_in_delta
FROM delta d
""",
    description="incremental exact dedup: arriving delta checked against base + itself",
    tags=("dedup", "maintenance", "cdc"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refresh-cycle form of ``exact_dedup``: when a delta batch
    arrives (every 5th doc here), each new document is checked against
    the EXISTING corpus's hash set (semi-join) and against earlier
    arrivals in its own batch (min-doc_id window) — the whole corpus
    is never re-deduped.

    Scale: the base side at 100 TB is the STORED hash column (8-byte
    xxhash64 or the sha256 already materialized at ingest), so the
    semi-join shuffles only hashes, co-partitioned with the delta's;
    the in-batch check is one window over the delta alone.  Cost is
    proportional to the delta, which is the entire point."""
    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.sha2("text", 256).alias("h")
    )
    delta = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.sha2("text", 256).alias("h")
    )
    w = Window.partitionBy("h")
    marked = delta.withColumn("first_in_delta", F.min("doc_id").over(w))
    hit = base.distinct().withColumn("dup_of_base", F.lit(True))
    return (
        marked.join(hit, "h", "left")
        .select(
            "doc_id",
            F.coalesce("dup_of_base", F.lit(False)).alias("dup_of_base"),
            (F.col("doc_id") > F.col("first_in_delta")).alias("dup_in_delta"),
        )
    )


# --------------------------------------------------------------------------
# incremental_near_dedup — delta near-dups against the stored signature base
# --------------------------------------------------------------------------


@register(
    "incremental_near_dedup",
    oracle=None,  # banding uses xxhash64 (not portable SQL); the test
    # asserts the result equals the full-corpus minhash pairs restricted
    # to pairs touching the delta — the incremental/batch equivalence.
    description="incremental MinHash near-dedup: delta banded against the stored base signature table",
    tags=("dedup", "approx", "maintenance", "cdc"),
)
def q_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_dedup``'s refresh-cycle contract lifted from exact
    to NEAR duplicates: when a delta batch arrives (every 5th doc), its
    MinHash bands join against the corpus's STORED band table (built at
    ingest by ``_minhash_band_table`` — LSH_BANDS 16-byte rows per doc)
    plus earlier arrivals in its own batch; only surviving candidates
    are exact-Jaccard verified.  The full corpus is never re-banded,
    re-shingled, or re-paired.

    Because a doc's signature depends only on its text, the result is
    EXACTLY the full-corpus ``minhash_lsh_dedup`` pairs restricted to
    pairs touching the delta — the batch/incremental equivalence the
    test pins.

    Scale: cost scales with the delta — its shingle pass, a band join
    whose base side is the stored table (co-partitioned on the band
    key, hot-band-capped at write), and a verify join that re-shingles
    only candidate base docs (here: a semi-joined re-derivation; a
    production store keeps shingle sets or re-reads just those docs)."""
    docs = table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 5 == 0
    # Both derived tables are localCheckpoint-ed because they stand in
    # for what a production pipeline PERSISTS at ingest (the shingle
    # sets and the band table), and because five join branches consume
    # them — without materialization Spark re-evaluates the shingle UDF
    # and the 16-hash signature aggregation once per branch (measured
    # 12 UDF evaluations in the un-checkpointed plan).
    sh_all = _shingle_sets(docs).transform(materialize)
    bands_all = _minhash_band_table(sh_all, HOT_BAND_CAP).transform(materialize)
    base_bands = bands_all.filter(~((F.col("doc_id") % 5) == 0))
    delta_bands = bands_all.filter((F.col("doc_id") % 5) == 0)

    d = delta_bands.alias("d")
    b = base_bands.alias("b")
    d2b = d.join(
        b, (F.col("d.band") == F.col("b.band")) & (F.col("d.bh") == F.col("b.bh"))
    ).select(
        F.col("d.doc_id").alias("new_doc_id"),
        F.col("b.doc_id").alias("matched_doc_id"),
    )
    d2 = delta_bands.alias("e")
    d2d = d.join(
        d2,
        (F.col("d.band") == F.col("e.band"))
        & (F.col("d.bh") == F.col("e.bh"))
        & (F.col("e.doc_id") < F.col("d.doc_id")),
    ).select(
        F.col("d.doc_id").alias("new_doc_id"),
        F.col("e.doc_id").alias("matched_doc_id"),
    )
    cand = d2b.unionByName(d2d).distinct()

    sets = sh_all.select("doc_id", "shingles", "n_sh")
    verified = (
        cand.join(
            sets.withColumnRenamed("doc_id", "new_doc_id")
            .withColumnRenamed("shingles", "sh_n")
            .withColumnRenamed("n_sh", "nn"),
            "new_doc_id",
        )
        .join(
            sets.withColumnRenamed("doc_id", "matched_doc_id")
            .withColumnRenamed("shingles", "sh_m")
            .withColumnRenamed("n_sh", "nm"),
            "matched_doc_id",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_n", "sh_m")))
    )
    jac = F.col("n_common") / (F.col("nn") + F.col("nm") - F.col("n_common"))
    return verified.filter(jac >= JACCARD_THRESHOLD).select(
        "new_doc_id",
        "matched_doc_id",
        (F.col("matched_doc_id") % 5 != 0).alias("match_in_base"),
        F.round(jac, 6).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# jaccard_prefix_dedup — prefix-filtered exact Jaccard (PPJoin-style)
# --------------------------------------------------------------------------


@register(
    "jaccard_prefix_dedup",
    # same result, same oracle: prefix filtering is candidate PRUNING,
    # not an approximation — the theorem below guarantees no pair above
    # the threshold is lost
    oracle=NGRAM_JACCARD_ORACLE,
    description="exact n-gram Jaccard near-dups via prefix filtering (same result, pruned candidates)",
    tags=("dedup", "scale"),
)
def q_jaccard_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_prefix(table(spark, sf_dir, "documents"))


# Candidate sets at or below this many pairs broadcast into the verify
# joins (~tens of MB of HashedRelation); above it the hint is withheld
# and the verify runs as ordinary shuffle joins — a pathological corpus
# (every doc sharing rare shingles) can then still complete instead of
# OOMing the broadcast build.
PREFIX_BROADCAST_CAP = 1_000_000


def jaccard_pairs_prefix(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    broadcast_cap: int = PREFIX_BROADCAST_CAP,
) -> DataFrame:
    """``jaccard_pairs``'s exact result with PPJoin-style prefix
    filtering: under any global total order of shingles, two sets with
    Jaccard >= t must share a shingle within each one's first
    ``|s| - ceil(t*|s|) + 1`` shingles (if the prefixes were disjoint,
    fewer than t*|s| shingles could overlap — below the threshold's
    minimum intersection).  So the candidate join runs over PREFIXES
    only, and candidates are re-verified with exact Jaccard on the
    full sets: identical output, provably, which is why this query
    shares ``ngram_jaccard_dedup``'s oracle.

    The order is ascending global frequency (rarest first), the
    standard choice: prefixes then hold each doc's rarest shingles,
    so the join keys with the worst df² fan-out (stop-shingles) fall
    OUT of the candidate stage entirely — where ``jaccard_pairs``
    must cap them away with a recall warning, prefix filtering drops
    them with zero recall cost.  tests/test_dedup.py measures the
    reduction: 10.7x fewer candidate pairs at fixture scale.

    Cost honesty: the pipeline has more stages than the dense join
    (frequency pass, signature fold + checkpoint, prefix join, verify),
    so at fixture scale its WALL CLOCK is ~2.5x ``jaccard_pairs`` —
    fixed stage cost dominates when the corpus is 60k rows.  The
    crossover is where candidate volume dominates, i.e. exactly the
    100 TB regime this variant exists for: candidate pairs are the
    quadratic term, and this cuts them an order of magnitude with zero
    recall loss."""
    sh = _shingle_sets(docs)
    ex = sh.select(
        "doc_id", "n_sh", F.explode("shingles").alias("s")
    ).select("doc_id", "n_sh", F.xxhash64("s").alias("h"))
    # one h-exchange for the global frequency, one doc_id-exchange to
    # fold each doc into a RARITY-SORTED hash-signature array; the
    # array is localCheckpoint-ed because four consumers read it (two
    # prefix-join sides, two verify sides) and Spark would otherwise
    # re-evaluate the shingle UDF per consumer (measured 8 evaluations
    # without the checkpoint) — the materialized table IS the signature
    # store a production pipeline persists at ingest.
    freq = ex.groupBy("h").agg(F.count("*").alias("gf"))
    sets = (
        ex.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gf", "h"))),
                lambda r: r.h,
            ).alias("hs"),
            F.first("n_sh").alias("n_sh"),
        )
        .transform(materialize)
    )
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    prefix = sets.select(
        "doc_id", F.explode(F.slice("hs", 1, prefix_len)).alias("h")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # the pruned candidate set is small by construction (that is the
    # point of the prefix), so it normally BROADCASTS into the verify
    # joins and the signature arrays stream through map-side — but
    # "small by construction" is a claim, not a guarantee, so ENFORCE
    # it: materialize the candidates (they are consumed by the verify
    # either way, and materializing also stops the prefix join from
    # re-running per consumer), count them, and withhold the hint
    # above the cap — the verify then falls back to shuffle joins,
    # which complete on any corpus instead of OOMing the broadcast
    # build.  Intersections count hash matches, exactly as
    # jaccard_pairs' posting join does.
    cand = materialize(cand)
    cand_hinted = F.broadcast(cand) if cand.count() <= broadcast_cap else cand
    verified = (
        sets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("hs").alias("hs_a"),
            F.col("n_sh").alias("na"),
        )
        .join(cand_hinted, "doc_a")
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs").alias("hs_b"),
                F.col("n_sh").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return verified.filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# homoglyph_dedup — Unicode-canonical exact dedup (zero-width + confusables)
# --------------------------------------------------------------------------

# Twin synthesis (fixture apparatus, same pattern as the codec twins in
# multimodal_dedup): every 23rd document gets a visually-identical twin
# with a zero-width space injected after the first character and its
# Latin aeopcxy mapped to the Cyrillic confusables.  sha256 dedup would
# sail past these; canonical dedup must collapse each twin onto its
# source.
HOMOGLYPH_TWIN_MOD = 23
HOMOGLYPH_TWIN_OFFSET = 1_000_000


def _homoglyph_twins(docs: DataFrame) -> DataFrame:
    from ..functions.text import CONFUSABLES

    latin = "".join(CONFUSABLES.values())
    cyr = "".join(CONFUSABLES)
    return docs.filter(F.col("doc_id") % HOMOGLYPH_TWIN_MOD == 0).select(
        (F.col("doc_id") + HOMOGLYPH_TWIN_OFFSET).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 1),
            F.lit("\u200b"),
            F.translate(F.expr("substring(text, 2)"), latin, cyr),
        ).alias("text"),
    )


@register(
    "homoglyph_dedup",
    oracle=f"""
WITH twins AS (
  SELECT doc_id + {HOMOGLYPH_TWIN_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % {HOMOGLYPH_TWIN_MOD} = 0
),
u AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM twins
),
g AS (SELECT {sql_canonical("text")} AS c, count(*) AS n FROM u GROUP BY 1)
SELECT CAST(sum(n) AS BIGINT) AS n_docs,
   count(*) AS n_groups,
   CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs
FROM g
""",
    description="homoglyph/zero-width canonical dedup: perturbed twins collapse onto their sources",
    tags=("dedup", "text", "hygiene"),
)
def q_homoglyph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after Unicode canonicalization: zero-width
    characters stripped and Cyrillic->Latin confusables mapped
    (functions/text.py:canonical_text — UTS #39's skeleton idea
    restricted to an explicit deterministic table), so
    visually-identical spam/plagiarism twins hash together where
    raw sha256 dedup keeps them apart.  The synthesized twins are
    perturbed IN the query and must collapse back onto their
    sources; the oracle applies the identical character map as a
    replace chain, so the pair is exact for any corpus content.

    Scale: canonicalization is two ``translate`` calls fused into
    the scan (whole-stage codegen, no UDF); the dedup itself is the
    standard sha256 hash-partitioned groupBy — one corpus shuffle
    of (hash, 1) pairs, identical posture to ``exact_dedup``."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    u = docs.unionByName(_homoglyph_twins(docs))
    g = u.groupBy(
        F.sha2(canonical_text(F.col("text")), 256).alias("h")
    ).agg(F.count("*").alias("n"))
    return g.agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias(
            "n_dup_docs"
        ),
    )


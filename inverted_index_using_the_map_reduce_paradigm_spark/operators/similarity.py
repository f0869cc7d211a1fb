"""Similarity search over the ``embeddings`` table (north-star, SURVEY.md §2.3).

  similarity_search      brute-force cosine top-k              (oracle-checked)
  embedding_near_dup     all pairs above a cosine threshold    (oracle-checked)
  similarity_search_rp   random-hyperplane LSH bucketed top-k  (rows-only;
                         recall validated against the exact result in tests)
  embedding_agg          per-label centroids, exploded by dim  (oracle-checked)

All vector math is built-in higher-order functions (``zip_with`` +
``aggregate`` sequential fold -> deterministic float order, no UDF).

Scale posture: brute force is the correctness baseline (O(Q*N*dim) --
fine when Q is small or as a final re-rank); the random-projection
variant is the 100 TB path: each vector lands in one of 2^H sign
buckets, the join key is the bucket id, and only same-bucket pairs are
scored.  Candidate sets shrink ~2^H-fold at a measured recall cost the
tests print.  Cross-join never appears at scale: ``embedding_near_dup``
is pair-joined through the bucket key too when H > 0.
"""

from __future__ import annotations

import os
import random
import sys
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..data import table, table_fingerprint
from ..functions.vectors import cosine_similarity
from ..registry import register

# The block-GEMM worker below runs in Python workers; ship it by value
# (same rationale as operators/multimodal.py).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
NEAR_DUP_COS = 0.4
ROUND = 4  # cosine rounding: coarse enough to absorb cross-engine float noise


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine over DOUBLE[] casts (matches Spark's double math)."""
    return (
        f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
    )


def _emb_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _r(col: F.Column) -> F.Column:
    """round + normalize -0.0 to 0.0 (the ``+ 0.0`` is IEEE-exact and keeps
    the cross-engine value hash stable; DuckDB side mirrors it as ``+ 0``)."""
    return F.round(col, ROUND) + F.lit(0.0)


@register(
    "similarity_search",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_cos_sql('q.qe', 'e.embedding')}, {ROUND}) + 0 AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    description="brute-force cosine top-k for a query set (broadcast + window rank)",
    tags=("similarity",),
)
def q_similarity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small query side is broadcast, so the big side streams once
    with no shuffle; the per-query top-k window is pruned to a streaming
    top-k by WindowGroupLimit (rank <= k inferred)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _emb_double("embedding").alias("qe")
    )
    cand = emb.select("vec_id", _emb_double("embedding").alias("e"))
    scored = (
        cand.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _r(cosine_similarity(F.col("qe"), F.col("e"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


NEAR_DUP_BLOCK_ROWS = 1024  # target rows per GEMM block: a tile is at
# most (1024 x dim) x (dim x 1024) — ~8 MB of operands at dim=64, far
# below executor memory, and one BLAS call per task
NEAR_DUP_MIN_BLOCKS = 4  # keep at least a few tiles so small inputs
# still spread over the cluster
NEAR_DUP_EXACT_MAX = 200_000  # above this row count exact all-pairs is
# no longer sane (block-pair count grows with n²); switch to the
# RP-bucket prefiltered path


def _near_dup_blocks(n: int) -> int:
    """Block count derived from input size: blocks scale linearly with
    rows so per-task GEMM work stays ~NEAR_DUP_BLOCK_ROWS² regardless
    of corpus size (the round-1 static 16 was tuned to one fixture)."""
    import math

    return max(NEAR_DUP_MIN_BLOCKS, math.ceil(n / NEAR_DUP_BLOCK_ROWS))


def _unpack_block(ids, flat) -> tuple[np.ndarray, np.ndarray]:
    """(ids, row-major flat floats) -> (ids, L2-normalized matrix).
    Primitive arrays cross Arrow zero-copy; a list-of-struct layout
    would unbox per element."""
    ids = np.asarray(ids, dtype=np.int64)
    mat = np.asarray(flat, dtype=np.float64).reshape(len(ids), -1)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return ids, mat / norms[:, None]


def _gemm_block_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One task = one (block_a, block_b) tile: a dense normalized-matrix
    product scores every cross pair at BLAS speed, then thresholds.
    Work per task is |A|*|B|*dim flops; output is only the surviving
    pairs, so nothing quadratic is ever shuffled or materialized."""
    for pdf in batches:
        for ia_, fa_, ib_, fb_, same in zip(
            pdf["ids_a"], pdf["flat_a"], pdf["ids_b"], pdf["flat_b"], pdf["same"]
        ):
            ids_a, na = _unpack_block(ia_, fa_)
            ids_b, nb = _unpack_block(ib_, fb_)
            cos = np.round(na @ nb.T, ROUND) + 0.0
            sel = cos >= NEAR_DUP_COS
            if same:
                # diagonal tile: keep the strict upper triangle by id
                sel &= ids_a[:, None] < ids_b[None, :]
            ii, jj = np.nonzero(sel)
            if ii.size == 0:
                continue
            ia, ib = ids_a[ii], ids_b[jj]
            yield pd.DataFrame(
                {
                    "vec_a": np.minimum(ia, ib),
                    "vec_b": np.maximum(ia, ib),
                    "cosine": cos[ii, jj],
                }
            )


@register(
    "embedding_near_dup",
    # named so rp_near_dup_census can reuse the exact pair set as a CTE
    oracle=(EMBEDDING_NEAR_DUP_ORACLE := f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_cos_sql('a.embedding', 'b.embedding')}, {ROUND}) + 0 AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_cos_sql('a.embedding', 'b.embedding')}, {ROUND}) >= {NEAR_DUP_COS}
"""),
    description=f"embedding pairs with cosine >= {NEAR_DUP_COS} (near-duplicate vectors)",
    tags=("similarity", "dedup"),
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-gated dispatch: exact tiled all-pairs below
    ``NEAR_DUP_EXACT_MAX`` rows (the oracle-checkable correctness
    baseline), RP-bucket prefiltered tiles above it (the 100 TB path —
    same GEMM scorer, but only within LSH buckets, so candidate volume
    is sub-quadratic).  The row count is one parquet-metadata action at
    plan-build time."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("e")
    )
    n = emb.count()
    if n <= NEAR_DUP_EXACT_MAX:
        return embedding_near_dup_exact(emb, n_blocks=_near_dup_blocks(n))
    return embedding_near_dup_rp(emb)


def _pack_blocks(grouped, key_cols: list[str]):
    """groupBy(key) -> (key, ids, flat): primitive arrays cross Arrow
    zero-copy; a list-of-struct layout would unbox per element."""
    return (
        grouped.groupBy(*key_cols)
        .agg(F.collect_list(F.struct("vec_id", "e")).alias("vs"))
        .select(
            *key_cols,
            F.transform("vs", lambda v: v["vec_id"]).alias("ids"),
            F.flatten(F.transform("vs", lambda v: v["e"])).alias("flat"),
        )
    )


def embedding_near_dup_exact(emb: DataFrame, n_blocks: int) -> DataFrame:
    """Exact all-pairs via tiled matrix product: vectors hash into
    ``n_blocks`` blocks, the NB*(NB+1)/2 block pairs fan out as one
    task each, and each task is a vectorized GEMM + threshold — the
    interpreted per-pair expression path is ~100x slower."""
    packed = _pack_blocks(
        emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks))), ["blk"]
    )
    a = packed.select(
        F.col("blk").alias("ba"), F.col("ids").alias("ids_a"), F.col("flat").alias("flat_a")
    )
    b = packed.select(
        F.col("blk").alias("bb"), F.col("ids").alias("ids_b"), F.col("flat").alias("flat_b")
    )
    tiles = (
        a.join(b, F.col("ba") <= F.col("bb"))
        .withColumn("same", F.col("ba") == F.col("bb"))
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )
    return tiles.mapInPandas(
        _gemm_block_pairs, schema="vec_a long, vec_b long, cosine double"
    )


def embedding_near_dup_rp(
    emb: DataFrame, sub_rows: int = NEAR_DUP_BLOCK_ROWS
) -> DataFrame:
    """RP-bucket prefiltered near-dup: candidates are only vectors that
    share an LSH (table, bucket) key — the ``similarity_search_rp``
    bucketing composed with the GEMM tile scorer, per the round-1 scale
    story.

    Buckets bigger than ``sub_rows`` split into sub-blocks so one hot
    bucket can't blow a single task's GEMM: sub-block ids come from a
    row_number window over (t, b), and the sub-block packing rides the
    window's hashpartitioning (a (t, b, sb) groupBy is satisfied by
    clustering on (t, b)) — no extra exchange.  Tiles pair sub-blocks
    within a bucket (sba <= sbb), so completeness within a bucket is
    preserved; a pair sharing several tables dedups in the final
    per-pair aggregation.  Recall is the LSH knob (RP_TABLES x
    RP_BITS); precision is exact because every candidate is scored
    with the true cosine."""
    bucketed = emb.select(
        "vec_id", "e", F.explode(_buckets_of("e")).alias("tb")
    ).select("vec_id", "e", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    w = Window.partitionBy("t", "b").orderBy("vec_id")
    sub = bucketed.withColumn(
        "sb", F.floor((F.row_number().over(w) - 1) / sub_rows).cast("int")
    )
    packed = _pack_blocks(sub, ["t", "b", "sb"])
    a = packed.select(
        "t", "b",
        F.col("sb").alias("sba"),
        F.col("ids").alias("ids_a"),
        F.col("flat").alias("flat_a"),
    )
    b2 = packed.select(
        F.col("t").alias("t2"), F.col("b").alias("b2"),
        F.col("sb").alias("sbb"),
        F.col("ids").alias("ids_b"),
        F.col("flat").alias("flat_b"),
    )
    tiles = (
        a.join(
            b2,
            (F.col("t") == F.col("t2"))
            & (F.col("b") == F.col("b2"))
            & (F.col("sba") <= F.col("sbb")),
        )
        .withColumn("same", F.col("sba") == F.col("sbb"))
        # only the operand arrays cross into Python — keys stay JVM-side
        .select("ids_a", "flat_a", "ids_b", "flat_b", "same")
    )
    pairs = tiles.mapInPandas(
        _gemm_block_pairs, schema="vec_a long, vec_b long, cosine double"
    )
    # a pair can surface once per shared LSH table
    return pairs.groupBy("vec_a", "vec_b").agg(F.first("cosine").alias("cosine"))


@register(
    "embedding_near_dup_rp",
    oracle=None,  # approximate by design (LSH recall); tests assert the
    # result is a subset of the exact pairs with high recall on strong
    # near-dups and measure the sub-quadratic candidate volume.
    description="near-dup pairs via RP-bucket prefilter + in-bucket GEMM tiles (scale path)",
    tags=("similarity", "dedup", "approx"),
)
def q_embedding_near_dup_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("e")
    )
    return embedding_near_dup_rp(emb)


# --------------------------------------------------------------------------
# semantic_dedup — cluster-bucketed greedy retention (SemDeDup shape)
# --------------------------------------------------------------------------


@register(
    "semantic_dedup",
    # label IS NOT NULL on BOTH sides: an unassigned (null-cluster)
    # vector is outside the dedup universe by contract.  Without the
    # filter the Spark groupBy would pool all nulls into ONE cluster
    # and dedup within it while SQL's b.label = a.label never matches
    # NULL — a silent divergence if a fixture ever ships null labels.
    oracle=f"""
SELECT a.vec_id, a.label,
       CAST(NOT EXISTS (
         SELECT 1 FROM embeddings b
         WHERE b.label = a.label AND b.vec_id < a.vec_id
           AND round({_cos_sql('a.embedding', 'b.embedding')}, {ROUND}) >= {NEAR_DUP_COS}
       ) AS INTEGER) AS kept
FROM embeddings a
WHERE a.label IS NOT NULL
""",
    description="SemDeDup-shaped retention: drop vectors close to ANY earlier same-cluster vector (kept or not)",
    tags=("similarity", "dedup"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())  # see the oracle note
        .select("vec_id", "label", _emb_double("embedding").alias("e"))
    )
    return semantic_dedup(emb)


def semantic_dedup(emb: DataFrame, tau: float = NEAR_DUP_COS) -> DataFrame:
    """Cluster-bucketed semantic dedup with a deterministic greedy
    retention rule: a vector is DROPPED iff some lower-``vec_id``
    vector in the same cluster has cosine >= ``tau`` to it (the
    SemDeDup recipe — Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication" — with
    min-id in place of its random keeper, so the result is
    order-independent and oracle-checkable).

    The fixture's ``label`` column stands in for the cluster
    assignment; the production composition is ``kmeans_clusters`` →
    this operator, where k scales with corpus size so cluster size
    stays bounded — that bound is what makes within-cluster pairwise
    scoring affordable at 100 TB (the global pairwise problem is
    quadratic; the bucketed one is sum over clusters of size²).

    One shuffle on the cluster key, then each cluster scores locally:
    a blocked GEMM (``_SEM_BLOCK`` columns at a time against all prior
    rows) keeps per-task memory O(cluster × block) instead of
    O(cluster²).  The greedy rule needs *prior-id* comparisons only,
    which the min-id ordering makes a lower-triangular mask — no
    iteration, single pass.
    """

    def _kept(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        E = np.array(pdf["e"].tolist(), dtype=np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", E, E))
        norms[norms == 0.0] = 1.0  # zero vectors: cosine 0 to everything
        n = len(pdf)
        kept = np.ones(n, dtype=np.int32)
        for j0 in range(1, n, _SEM_BLOCK):
            j1 = min(j0 + _SEM_BLOCK, n)
            # cosine of every prior row against column block [j0, j1)
            sims = (E[:j1] @ E[j0:j1].T) / np.outer(norms[:j1], norms[j0:j1])
            sims = np.round(sims, ROUND)
            for idx in range(j1 - j0):
                j = j0 + idx
                if (sims[:j, idx] >= tau).any():
                    kept[j] = 0
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "label": pdf["label"], "kept": kept}
        )

    return emb.groupBy("label").applyInPandas(
        _kept, schema="vec_id long, label int, kept int"
    )


_SEM_BLOCK = 1024  # GEMM column-block width: bounds task memory


# --------------------------------------------------------------------------
# random-hyperplane LSH variant (the scale path)
# --------------------------------------------------------------------------

RP_TABLES = 6  # L independent hash tables (union of candidates)
RP_BITS = 4  # sign bits per table -> 2^4 buckets each
RP_DIM = 64  # embedding dimensionality of the fixture
_rng = random.Random(20240101)
RP_PLANES: list[list[list[float]]] = [
    [[_rng.gauss(0.0, 1.0) for _ in range(RP_DIM)] for _ in range(RP_BITS)]
    for _ in range(RP_TABLES)
]


def _buckets_of(e: str) -> F.Column:
    """Array of (table, bucket) structs from L tables of RP_BITS sign-bit
    hyperplanes (deterministic literals compiled into the plan -- no
    driver state at runtime).  Multi-table is the standard LSH recall
    knob: candidate probability 1-(1-p^bits)^tables.

    Built as one SQL expression, parsed once: a ``repr`` + ``D`` literal
    is the same double as the plane weight, and each projection sums
    left to right from 0.0."""

    def proj(plane: list[float]) -> str:
        weights = ", ".join(f"{v!r}D" for v in plane)
        return (
            f"aggregate(zip_with(`{e}`, array({weights}), (x, y) -> x * y),"
            " 0.0D, (acc, x) -> acc + x)"
        )

    tables = []
    for t, planes in enumerate(RP_PLANES):
        bits = " + ".join(
            f"CASE WHEN {proj(plane)} > 0 THEN {1 << i} ELSE 0 END"
            for i, plane in enumerate(planes)
        )
        tables.append(f"named_struct('t', {t}, 'b', 0 + {bits})")
    return F.expr(f"array({', '.join(tables)})")


@register(
    "similarity_search_rp",
    oracle=None,  # approximate by design; tests measure recall vs the
    # exact oracle-checked similarity_search result.
    description=(
        f"ANN top-k via {RP_TABLES}x{RP_BITS}-bit random-hyperplane LSH,"
        " flip-1 multiprobe"
    ),
    tags=("similarity", "approx"),
)
def q_similarity_search_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as ``similarity_search`` but candidates are only
    vectors sharing a (table, bucket) key with the query in at least one
    of the L tables: the join key is the exploded (table, bucket) pair,
    so the plan is a plain equi-join that scales horizontally, and the
    candidate union across tables is a ``distinct`` before scoring.

    Multiprobe: each query also probes the RP_BITS buckets at Hamming
    distance 1 from its own bucket in every table — the standard recall
    lift for sign-bit LSH (a near neighbor that lands one flipped
    hyperplane away is the dominant miss mode).
    The probe fan-out lives entirely on the BROADCAST query side
    (N_QUERIES x L x (1+RP_BITS) rows); the corpus side still stores
    one bucket per table per vector, so the join stays the same
    bucketed equi-join and candidate growth is bounded by probes x
    mean bucket occupancy, not corpus size.  Lifted planted-rung
    (2 M vectors) recall 0.78 -> measured >= 0.9; gated at 0.8 by
    scripts/ann_recall.py --assert-floors alongside the IVF family."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("e")
    )
    bucketed = emb.select(
        "vec_id", "e", F.explode(_buckets_of("e")).alias("tb")
    ).select("vec_id", "e", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("t").alias("qt"),
        F.explode(
            F.array(
                F.col("b"),
                *[
                    F.col("b").bitwiseXOR(F.lit(1 << i))
                    for i in range(RP_BITS)
                ],
            )
        ).alias("qb"),
    )
    cand = (
        bucketed.join(
            F.broadcast(q),
            (F.col("t") == F.col("qt"))
            & (F.col("b") == F.col("qb"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _r(cosine_similarity(F.col("qe"), F.col("e"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------------
# IVF variant: coarse k-means quantizer + probed buckets
# --------------------------------------------------------------------------

IVF_CELLS = 16  # FLOOR for nlist; the real count is corpus-adaptive
IVF_NPROBE = 4  # FLOOR for nprobe
IVF_TRAIN_SAMPLE = 1024  # minimum driver-side k-means training sample
IVF_KMEANS_ITERS = 5
# Corpus-adaptive coarse quantizer (r8, measured): with nlist FIXED at
# 16, recall decayed with corpus growth no matter what the codes did —
# at x64 the CANDIDATE CEILING (fraction of true neighbors whose home
# cell gets probed) was 0.50, and raw 4-bit codes, 8-bit codes, and
# residual codes all sat exactly on it; quantization was not the
# binding constraint, the partition was.  Growing nlist ~ sqrt(n) at a
# CONSTANT nprobe/nlist fraction (same candidate-pool size, same ADC
# cost) raised the ceiling 0.50 -> 0.82 at x64 because finer cells
# concentrate each query's true neighbors into the probed fraction.
# End-to-end: 0.50 -> 0.74 at x64, 0.60 -> 0.72 at x16.  Caps keep the
# driver-side Lloyd training bounded at any corpus size (32768-sample
# GEMM against <= 1024 cells; production FAISS trains bigger nlist on
# accelerators, same recipe).
IVF_CELLS_CAP = 1024
IVF_SAMPLE_CAP = 32768
IVF_PROBE_FRAC = 4  # nprobe = nlist / 4 — pool fraction fixed at 25%


def _ivf_params(corpus_n: int) -> tuple[int, int, int]:
    """(nlist, nprobe, sample_n) for a corpus of ``corpus_n`` vectors:
    nlist = the largest power of two <= sqrt(n) between the fixture
    floor and the driver cap (power-of-two so nprobe = nlist/4 stays
    exact and growth steps are discrete — a fractional sqrt at small n
    measurably LOST recall: nlist=22 on the 500-vector fixture read
    0.50 vs 0.58 at 16), nprobe a fixed 1/{IVF_PROBE_FRAC} of nlist,
    training sample 32 vectors per cell (bounded)."""
    nlist = IVF_CELLS
    while nlist * 2 <= min(int(corpus_n**0.5), IVF_CELLS_CAP):
        nlist *= 2
    nprobe = max(IVF_NPROBE, nlist // IVF_PROBE_FRAC)
    sample_n = min(max(IVF_TRAIN_SAMPLE, 32 * nlist), IVF_SAMPLE_CAP)
    return nlist, nprobe, sample_n


def _train_sample(emb: DataFrame, sample_n: int = IVF_TRAIN_SAMPLE) -> np.ndarray:
    """Bounded, REPRESENTATIVE driver sample: the first ``sample_n``
    rows in deterministic multiplicative-hash order of vec_id.  Taking
    the first N rows by vec_id is the classic distributed-sampling bias
    (the head of a corpus is one shard / one source / one time slice,
    not the population) — measured on the x16 sweep corpus: quantizers
    trained on a head sample read 0.26 recall, the hash-mixed sample
    0.38, because the head sample never saw the other copies' subspace
    distributions.  Hash order is deterministic, so training stays
    reproducible."""
    # mod-reduce BEFORE multiplying: (vec_id * 2654435761) overflows
    # int64 for vec_id > ~3.4e9, which throws under Spark 4's default
    # ANSI mode — the same overflow epoch_shuffle documents and avoids
    rows = (
        emb.select("e", "vec_id")
        .orderBy(
            (
                ((F.col("vec_id") % 1000000007) * (2654435761 % 1000000007))
                % 1000000007
            ).asc(),
            F.col("vec_id"),
        )
        .limit(sample_n)
        .collect()
    )
    sample = np.array([r.e for r in rows], dtype=np.float64)
    sample /= np.maximum(np.linalg.norm(sample, axis=1), 1e-12)[:, None]
    return sample


def _train_centroids(emb: DataFrame, nlist: int, sample_n: int) -> np.ndarray:
    """Coarse-quantizer training: Lloyd iterations on a bounded driver
    sample (the standard IVF recipe — the quantizer trains on a sample,
    never the corpus; at most ``IVF_SAMPLE_CAP x dim`` floats ever
    reach the driver, regardless of corpus size).  Deterministic:
    fixed-seed init + fixed iteration count."""
    sample = _train_sample(emb, sample_n)
    nlist = min(nlist, len(sample))  # tiny fixtures: never more cells than rows
    rng = np.random.RandomState(20240101)
    cents = sample[rng.choice(len(sample), nlist, replace=False)]
    for _ in range(IVF_KMEANS_ITERS):
        assign = np.argmax(sample @ cents.T, axis=1)  # cosine on unit vectors
        for c in range(nlist):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _cell_assigner(cents: np.ndarray, nprobe: int):
    """pandas_udf: embedding -> array of the nprobe nearest cell ids.
    The centroid matrix is baked into the closure (broadcast with the
    task), so assignment is one small GEMM per Arrow batch."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(embs: pd.Series) -> pd.Series:
        mat = np.array(list(embs), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1), 1e-12)[:, None]
        sims = mat @ cents.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return assign


@register(
    "similarity_search_ivf",
    oracle=None,  # approximate by design; tests measure recall vs the
    # exact oracle-checked similarity_search result.
    description="ANN top-k via IVF: sqrt(n)-cell k-means quantizer, nprobe=nlist/4",
    tags=("similarity", "approx"),
)
def q_similarity_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: every vector lives in its nearest cell (inverted
    list); a query scores only vectors in its ``nprobe`` nearest
    cells.  The cell id is a plain equi-join key, so the plan is
    bucket-join + exact re-rank — same shape as the LSH variant but
    with a learned partition of the space (better recall per candidate
    at the same fan-out).  At 100 TB the inverted lists are the stored
    partition layout (`write.partitionBy("cell")`) and this query
    prunes to nprobe partitions."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("e")
    )
    nlist, nprobe, sample_n = _ivf_params(emb.count())
    cents = _train_centroids(emb, nlist, sample_n)
    home_cell = _cell_assigner(cents, 1)
    probe_cells = _cell_assigner(cents, nprobe)

    cand = emb.select(
        "vec_id", "e", F.explode(home_cell(F.col("e"))).alias("cell")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.explode(probe_cells(F.col("e"))).alias("cell"),
    )
    scored = (
        cand.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _r(cosine_similarity(F.col("qe"), F.col("e"))).alias("cosine"),
        )
        # r13 (optimization round): NO dedup needed — a (query,
        # neighbor) pair matches exactly once by construction: the
        # candidate side carries its single HOME cell (argmin) and the
        # query side's nprobe probed cells are argsort indices, i.e.
        # DISTINCT, so at most one join row per pair exists.  The old
        # groupBy(query_id, neighbor_id) "dedup" was a full extra
        # exchange of the candidate stream for a no-op (pinned by
        # test_similarity.py::test_ivf_candidate_pairs_are_unique).
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------------
# IVF-PQ variant: coarse quantizer + product-quantized codes, ADC scoring
# --------------------------------------------------------------------------

PQ_M = 16  # subspaces: the 64-dim fixture splits into 16 x 4-dim blocks
# (A/B at sf0.01: M=8 -> 0.46 recall, M=16 -> 0.58 — the IVF candidate
# ceiling at nprobe=4 is 0.6, so finer subspaces buy real recall while
# 16 x 4-bit codes still compress float32 vectors 16x)
PQ_K = 16  # codewords per subspace (4-bit codes)
PQ_KMEANS_ITERS = 5
PQ_REFINE = 4 * TOP_K  # MINIMUM ADC shortlist fed to the exact refine step
# Pool-proportional refine: quantization noise is per-candidate, so at a
# fixed shortlist depth the expected number of distractors OUTSCORING a
# true neighbor grows linearly with the candidate pool and recall decays
# (measured on the x16 sweep corpus, 8k-candidate pools: refine 20 ->
# 0.38 recall, refine 320 -> 0.62 = the IVF candidate ceiling;
# pool/256 = 31 still read 0.44).  A 1/32 fraction of the expected
# per-query pool keeps the distractor count bounded at measured-ceiling
# recall while the refine step stays pool/32 exact scores per query —
# sublinear in the corpus whenever nlist follows the standard sqrt(n)
# growth.
PQ_REFINE_POOL_FRAC = 32


def _pq_refine_depth(corpus_n: int, nlist: int, nprobe: int) -> int:
    pool = corpus_n * nprobe // nlist
    return max(PQ_REFINE, pool // PQ_REFINE_POOL_FRAC)


# Residual (IVFADC) vs raw-vector PQ codes — MEASURED, raw wins here
# (r8).  Jegou et al. 2011 §IV quantizes e - centroid(cell), which wins
# when cells are tight (||residual|| << ||e||).  This corpus has
# essentially no cluster structure: the mean cosine of a vector to its
# own LABEL centroid is 0.07, so even a perfect quantizer leaves
# ||residual||^2 ~ 1.86 vs ||e||^2 = 1.0 — residual encoding EXPANDS
# the quantization ball whenever e.centroid < 0.5.  Full-pipeline A/B
# on the sweep corpora (adaptive nlist, same refine):
#   x16: raw 0.72 / residual 0.64;  x64: raw 0.74 / residual 0.74.
# With 8-bit codes residual ties raw but never beats it.  The flag
# keeps the IVFADC path selectable for corpora that ARE clustered
# (real embedding corpora usually are); both paths share every kernel
# (raw == residual with a zero centroid base, exact algebra).
PQ_RESIDUAL = False


def _pq_base(cents: np.ndarray) -> np.ndarray:
    """The encoding base: cell centroids under IVFADC residual mode, a
    zero matrix under raw mode — all downstream algebra is shared."""
    return cents if PQ_RESIDUAL else np.zeros_like(cents)


def _train_pq_codebooks(
    emb: DataFrame, cents: np.ndarray, sample_n: int
) -> np.ndarray:
    """(PQ_M, PQ_K, sub_dim) codebooks: per-subspace L2 k-means on the
    same bounded driver sample as the coarse quantizer (Jegou et al.
    2011, "Product Quantization for Nearest Neighbor Search" —
    public).  Under ``PQ_RESIDUAL`` the training vectors are the
    IVFADC residuals ``e - centroid(home_cell(e))`` (ibid. §IV); under
    raw mode (the measured default here — see the ``PQ_RESIDUAL``
    note) they are the unit vectors themselves.  One codebook is
    shared across cells (the standard IVFADC memory/accuracy trade:
    per-cell codebooks would cost nlist x more driver state).
    Deterministic: fixed-seed init, fixed iterations, argmin
    assignment (first tie wins)."""
    sample = _train_sample(emb, sample_n)
    base = _pq_base(cents)
    assign = np.argmax(sample @ cents.T, axis=1)
    resid = sample - base[assign]
    dim = resid.shape[1]
    sub = dim // PQ_M
    rng = np.random.RandomState(20240202)
    books = np.zeros((PQ_M, PQ_K, sub))
    for m in range(PQ_M):
        block = resid[:, m * sub : (m + 1) * sub]
        cents = block[rng.choice(len(block), PQ_K, replace=False)]
        for _ in range(PQ_KMEANS_ITERS):
            d2 = ((block[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for k in range(PQ_K):
                members = block[assign == k]
                if len(members):
                    cents[k] = members.mean(axis=0)
        books[m] = cents
    return books


def _pq_home_encoder(cents: np.ndarray, books: np.ndarray):
    """pandas_udf: embedding -> struct(cell, codes) — home-cell
    assignment AND residual PQ encoding in ONE Arrow pass over the
    corpus (two stacked pandas_udfs cost two full corpus
    serializations; the merged kernel is the same math behind one
    exchange of bytes).  The codes quantize ``e - base(cell)`` (base =
    centroids under IVFADC residual mode, zero under the measured raw
    default), so decoding is ``base(cell) + codeword`` — the cell id
    is part of the stored representation, which the cell-partitioned
    index layout already carries for free."""
    from pyspark.sql import types as T

    out_t = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    base = _pq_base(cents)

    @F.pandas_udf(out_t)
    def home_encode(embs: pd.Series) -> pd.DataFrame:
        mat = np.array(list(embs), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1), 1e-12)[:, None]
        cell = np.argmax(mat @ cents.T, axis=1).astype(np.int32)
        resid = mat - base[cell]
        sub = mat.shape[1] // PQ_M
        codes = np.zeros((len(mat), PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            block = resid[:, m * sub : (m + 1) * sub]
            d2 = ((block[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.DataFrame({"cell": cell, "codes": list(codes)})

    return home_encode


def _adc_shortlist_kernel(cents: np.ndarray, books: np.ndarray, refine_depth: int):
    """The grouped-pandas ADC kernel shared by the in-memory and stored
    IVF-PQ paths: per query ONE (M, K) dot-product LUT plus per-cell
    constants, then each candidate costs M table lookups.

    Decomposition (exact algebra, the only approximation is PQ itself):
    with x_hat = base(cell) + r_hat (base = centroid under IVFADC
    residual mode, zero under the measured raw default — the zero base
    collapses every cell term below and the raw formula falls out),

        dot(q, x_hat)  = q . base(cell)                (nlist scalars)
                       + sum_m LUT[m, code_m]          (cell-independent
                                                        codeword LUT)
        ||x_hat||^2    = ||base(cell)||^2
                       + 2 sum_m CROSS[cell, m, code_m]
                       + sum_m ||book[m, code_m]||^2

    CROSS (nlist x M x K base-block/codeword dot products) and the
    squared-norm tables are data-independent, computed once on the
    driver (nlist*M*K floats, <= 1024*16*16 at the nlist cap —
    trivially broadcast in the closure).  Candidates carry their HOME
    cell (the join key), so one kernel scores candidates from all
    probed cells."""
    sub = cents.shape[1] // PQ_M
    base = _pq_base(cents)
    sq_norms = (books**2).sum(axis=2)  # (M, K) codeword ||.||^2
    base_blocks = base.reshape(len(base), PQ_M, sub)
    cross = np.einsum("cms,mks->cmk", base_blocks, books)  # (nlist, M, K)
    cent_sq = (base**2).sum(axis=1)  # (nlist,)

    def _adc_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qe = np.array(pdf["qe"].iloc[0], dtype=np.float64)
        qe /= max(np.linalg.norm(qe), 1e-12)
        lut = np.stack(
            [books[m] @ qe[m * sub : (m + 1) * sub] for m in range(PQ_M)]
        )  # (M, K) query/codeword dot products — shared across cells
        qdotc = base @ qe  # (nlist,)
        codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
        cell = pdf["cell"].to_numpy(dtype=np.int64)
        rows = np.arange(PQ_M)
        dots = qdotc[cell] + lut[rows, codes].sum(axis=1)
        norm2 = (
            cent_sq[cell]
            + 2.0 * cross[cell[:, None], rows[None, :], codes].sum(axis=1)
            + sq_norms[rows, codes].sum(axis=1)
        )
        score = np.round(dots / np.sqrt(np.maximum(norm2, 1e-24)), ROUND)
        out = (
            pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "approx_cos": score,
                }
            )
            .sort_values(["approx_cos", "neighbor_id"], ascending=[False, True])
            .head(refine_depth)
        )
        return out[["query_id", "neighbor_id"]]

    return _adc_topk


@register(
    "similarity_search_ivfpq",
    oracle=None,  # approximate by design; ann_ivfpq_recall_census
    # hash-checks the per-query result-count contract + recall floor.
    description=f"ANN top-k via IVF-PQ: sqrt(n) cells, {PQ_M}x{PQ_K} product codes, ADC scoring",
    tags=("similarity", "approx"),
)
def q_similarity_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB memory path: the corpus is stored as {PQ_M} 4-bit
    codes per vector (16x smaller than float32; 128x smaller than the
    float64 scoring form), queries stay exact floats, and scoring is
    asymmetric distance computation — per query ONE {PQ_M}x{PQ_K}
    lookup table of subspace dot products, then each candidate costs
    {PQ_M} table lookups instead of a {RP_DIM}-dim dot product.  The
    coarse quantizer is corpus-adaptive (nlist ~ sqrt(n), nprobe a
    fixed fraction — see the ``IVF_CELLS_CAP`` note: at a CONSTANT
    candidate-pool fraction this raised the x64 recall ceiling 0.50 ->
    0.82, measured); codes support both raw and IVFADC residual
    encoding through one shared algebra (``PQ_RESIDUAL`` — raw is the
    measured winner on this unclustered corpus).  The estimated cosine
    reconstructs dot and norm exactly from per-cell constants + the
    shared codebook (see ``_adc_shortlist_kernel``), so the only
    approximation is the quantization itself.

    Plan shape: IVF's candidate equi-join on the probed cell key, then
    the ADC scoring runs as ONE grouped-pandas kernel per query whose
    input is the candidate set (bounded by nprobe cells), never the
    corpus; top-k comes out of the same kernel, so no window touches
    more than one query's candidates.  Three Python passes, each
    justified: corpus encode (the pass that WRITES the compressed
    index at production), literal-bounded query-side cell probe, and
    the candidate-bounded ADC kernel.  A refine step (FAISS IVFPQR)
    re-ranks the {PQ_REFINE}-deep ADC shortlist with exact floats —
    fetched for shortlist rows only — so the output cosine is exact
    and the codes only have to put true neighbors in the top
    {PQ_REFINE}, not the top {TOP_K}."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("e")
    )
    # one cheap count action sizes the adaptive quantizer + refine depth
    corpus_n = emb.count()
    nlist, nprobe, sample_n = _ivf_params(corpus_n)
    cents = _train_centroids(emb, nlist, sample_n)
    books = _train_pq_codebooks(emb, cents, sample_n)
    probe_cells = _cell_assigner(cents, nprobe)
    home_encode = _pq_home_encoder(cents, books)
    refine_depth = _pq_refine_depth(corpus_n, len(cents), nprobe)

    # the stored form: (cell, codes) — at production this is the whole
    # index, written partitionBy(cell); floats exist only query-side.
    # Home cell + codes come from ONE merged Arrow pass; the explode of
    # a one-element array is the materialization barrier — extracting
    # two fields straight off the UDF struct re-evaluates the UDF per
    # field (two stacked ArrowEvalPython corpus passes, observed), while
    # Generate materializes the struct once
    coded = emb.select(
        "vec_id", F.explode(F.array(home_encode(F.col("e")))).alias("hc")
    ).select(
        "vec_id", F.col("hc.cell").alias("cell"), F.col("hc.codes").alias("codes")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.explode(probe_cells(F.col("e"))).alias("cell"),
    )
    cand = (
        coded.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        # r13 (optimization round): no dedup — each candidate has ONE
        # home cell and each query's probed cells are DISTINCT argsort
        # indices, so a (query, vec) pair joins exactly once (pinned by
        # test_similarity.py::test_ivf_candidate_pairs_are_unique).
        # The old dropDuplicates ran first() over the array columns,
        # which hash aggregation cannot buffer -> TWO SortAggregates,
        # two full candidate-stream sorts and an extra
        # (query_id, vec_id) exchange, all for a no-op.
        .select(
            "query_id", "qe", F.col("vec_id").alias("neighbor_id"), "cell", "codes"
        )
    )
    shortlist = cand.groupBy("query_id").applyInPandas(
        _adc_shortlist_kernel(cents, books, refine_depth),
        schema="query_id long, neighbor_id long",
    )
    # refine (the FAISS IVFPQR step): exact floats are fetched for the
    # ADC shortlist ONLY — PQ_REFINE rows per query, never the corpus —
    # so the final ranking and the emitted cosine are exact over the
    # shortlist and directly comparable to similarity_search's values
    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    refined = (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _r(cosine_similarity(F.col("qe"), F.col("e"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------------
# stored IVF-PQ index: write-once partitionBy(cell), partition-pruned probe
# --------------------------------------------------------------------------

# (dir, cents, books) per (sf_dir, corpus fingerprint) — the quantizer
# models MUST be the ones the stored codes were produced with, so they
# cache with the directory; the fingerprint key means a corpus mutated
# in place gets a rebuilt index, never a stale one (r8)
_STORED_PQ: dict[tuple[str, str], tuple[str, np.ndarray, np.ndarray, int]] = {}


def stored_pq_index_dir(
    spark: SparkSession, sf_dir: str
) -> tuple[str, np.ndarray, np.ndarray, int]:
    """Materialize (once per process) the IVF-PQ index over ``sf_dir``'s
    embeddings: (vec_id, codes) parquet PARTITIONED BY cell — the
    write-once-query-many shape the in-memory query's docstring
    promises.  At 100 TB this is the whole stored form of the corpus
    for ANN: 16 x 4-bit codes per vector in nlist directories; the
    float vectors stay in the base table and are touched only by the
    bounded refine step."""
    fp = table_fingerprint(sf_dir, "embeddings")
    got = _STORED_PQ.get((sf_dir, fp))
    if got is None:
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", _emb_double("embedding").alias("e")
        )
        corpus_n = emb.count()
        nlist, _, sample_n = _ivf_params(corpus_n)
        cents = _train_centroids(emb, nlist, sample_n)
        books = _train_pq_codebooks(emb, cents, sample_n)
        home_encode = _pq_home_encoder(cents, books)
        # fingerprint in the path: a rebuild lands in a FRESH directory
        # so an in-flight query against the old index never reads a
        # half-overwritten one
        base = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_pqindex_{os.getpid()}",
            sf_dir.strip("/").replace("/", "_"),
            fp,
        )
        coded = emb.select(
            "vec_id", F.explode(F.array(home_encode(F.col("e")))).alias("hc")
        ).select(
            "vec_id", F.col("hc.cell").alias("cell"), F.col("hc.codes").alias("codes")
        )
        coded.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(base)
        _STORED_PQ[(sf_dir, fp)] = got = (base, cents, books, corpus_n)
    return got


@register(
    "similarity_search_ivfpq_stored",
    oracle=None,  # approximate; ivfpq_stored_parity_census hash-checks
    # set equality with the in-memory ivfpq path + the k-contract.
    description="IVF-PQ ANN against the STORED cell-partitioned code index (pruned scan)",
    tags=("similarity", "approx", "storage"),
)
def q_similarity_search_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as ``similarity_search_ivfpq`` but querying the
    STORED index: the probed cells of all queries become a LITERAL
    ``cell IN (...)`` predicate, so the scan prunes to at most
    N_QUERIES * nprobe of the nlist partition directories
    (PartitionFilters in the plan — pinned) and no encode pass runs at
    query time.  Query-side work is driver-side numpy over the
    N_QUERIES query vectors (bounded, same posture as IVF's training
    sample) + ONE candidate-bounded ADC kernel + the exact refine.
    Query-time Python passes over stored data: 1."""
    base, cents, books, corpus_n = stored_pq_index_dir(spark, sf_dir)
    nprobe = max(IVF_NPROBE, len(cents) // IVF_PROBE_FRAC)
    refine_depth = _pq_refine_depth(corpus_n, len(cents), nprobe)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("e")
    )
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    )  # bounded: N_QUERIES rows
    Q = np.array([r.e for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1), 1e-12)[:, None]
    probe = np.argsort(-(Qn @ cents.T), axis=1)[:, :nprobe]
    q_cells = [
        (int(r.vec_id), [int(c) for c in probe[i]], [float(v) for v in r.e])
        for i, r in enumerate(qrows)
    ]
    qdf = spark.createDataFrame(
        [(qid, c, qe) for qid, cells, qe in q_cells for c in cells],
        "query_id long, cell int, qe array<double>",
    )
    all_cells = sorted({c for _, cells, _ in q_cells for c in cells})
    coded = spark.read.parquet(base).filter(F.col("cell").isin(all_cells))
    cand = (
        coded.join(F.broadcast(qdf), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        # r13: no dedup — probed cells are distinct per query and the
        # stored index holds each vec_id in exactly one cell partition,
        # so a (query, vec) pair joins once; the old dropDuplicates
        # cost two SortAggregates + an exchange (see the in-memory
        # variant's note and test_ivf_candidate_pairs_are_unique)
        .select(
            "query_id", "qe", F.col("vec_id").alias("neighbor_id"), "cell", "codes"
        )
    )
    shortlist = cand.groupBy("query_id").applyInPandas(
        _adc_shortlist_kernel(cents, books, refine_depth),
        schema="query_id long, neighbor_id long",
    )
    qe_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    refined = (
        shortlist.join(F.broadcast(qe_df), "query_id")
        .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _r(cosine_similarity(F.col("qe"), F.col("e"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------------
# embedding_agg
# --------------------------------------------------------------------------


@register(
    "embedding_agg",
    oracle=f"""
WITH d AS (
  SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
)
SELECT label, CAST(i - 1 AS BIGINT) AS dim,
       round(avg(CAST(embedding[i] AS DOUBLE)), {ROUND}) + 0 AS centroid
FROM d GROUP BY label, i
""",
    description="per-label centroid of embedding vectors, exploded by dimension",
    tags=("similarity",),
)
def q_embedding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode + (label, dim) hash agg: one shuffle, partial averages
    map-side.  The exploded form (label, dim, value) is also the
    cross-engine-comparable serialization of an array column."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(_emb_double("embedding")).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(_r(F.avg("v")).alias("centroid"))
        .select("label", F.col("dim").cast("long").alias("dim"), "centroid")
    )


# --------------------------------------------------------------------------
# embedding_quantize — int8 scalar quantization + reconstruction error
# --------------------------------------------------------------------------

QUANT_LEVELS = 255  # int8 code range


@register(
    "embedding_quantize",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), stats AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM e GROUP BY dim
), err AS (
  SELECT vec_id,
         CASE WHEN mx = mn THEN 0.0
              ELSE power(x - (mn + round((x - mn) / ((mx - mn) / {QUANT_LEVELS}))
                                  * ((mx - mn) / {QUANT_LEVELS})), 2)
         END AS e2
  FROM e JOIN stats USING (dim)
)
SELECT vec_id, CAST(count(*) AS INT) AS n_dims,
       round(avg(e2) * 1e6, 4) + 0 AS mse_ppm
FROM err GROUP BY vec_id
""",
    description="int8 scalar quantization: per-dim min/max codes + reconstruction MSE",
    tags=("similarity", "compression", "scale"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization of the embedding
    column, reporting per-vector reconstruction error.  This is the
    storage/scale path for the similarity family: 64 float32 dims become
    64 int8 codes (4x smaller; 16x vs the double compute form), and the
    brute-force / IVF scorers can run on dequantized codes at ~the same
    recall (the reported MSE is the evidence).

    100 TB shape: phase 1 computes per-dimension min/max — posexplode
    then a 64-group partial-aggregated shuffle (output is 64 rows
    regardless of corpus size), folded to ONE row of parallel arrays.
    Phase 2 cross-joins that single broadcast row and computes codes +
    error array-locally inside one projection (``transform`` with index
    lambda) — no second explode, no per-dim shuffle, no re-agg by
    vec_id.  Total: one tiny shuffle + one broadcast, both scale-free.
    """
    emb = table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(F.posexplode(_emb_double("embedding")).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mn", "mx"))
            ).alias("s")
        )
        .select(
            F.transform("s", lambda r: r.mn).alias("mins"),
            F.transform("s", lambda r: r.mx).alias("maxs"),
        )
    )

    def _e2(x, i):
        mn = F.element_at(F.col("mins"), i + 1)
        mx = F.element_at(F.col("maxs"), i + 1)
        step = (mx - mn) / F.lit(float(QUANT_LEVELS))
        code = F.round((x - mn) / step)  # null when mx == mn (step 0/0)
        deq = mn + code * step
        return F.coalesce(F.pow(x - deq, F.lit(2.0)), F.lit(0.0))

    errs = F.transform(_emb_double("embedding"), _e2)
    return (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            F.round(
                F.aggregate(
                    errs, F.lit(0.0), lambda acc, e: acc + e
                )
                / F.size("embedding")
                * F.lit(1e6),
                4,
            ).alias("mse_ppm"),
        )
    )


# --------------------------------------------------------------------------
# embedding_outliers — per-label centroid distance screening
# --------------------------------------------------------------------------

OUTLIER_BOTTOM_K = 5  # vectors flagged per label


@register(
    "embedding_outliers",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), c AS (
  SELECT label, dim, avg(x) AS cx FROM e GROUP BY label, dim
), cn AS (
  SELECT label, sqrt(sum(cx * cx)) AS cnorm FROM c GROUP BY label
), s AS (
  SELECT e.vec_id, e.label, sum(e.x * c.cx) AS dot,
         sqrt(sum(e.x * e.x)) AS enorm
  FROM e JOIN c USING (label, dim) GROUP BY e.vec_id, e.label
), r AS (
  SELECT s.vec_id, s.label, s.dot / (s.enorm * cn.cnorm) AS cosc,
         row_number() OVER (PARTITION BY s.label
                            ORDER BY s.dot / (s.enorm * cn.cnorm) ASC,
                                     s.vec_id ASC) AS rn
  FROM s JOIN cn USING (label)
)
SELECT label, vec_id, round(cosc, {ROUND}) + 0 AS cos_centroid,
       CAST(rn AS INT) AS rank
FROM r WHERE rn <= {OUTLIER_BOTTOM_K}
""",
    description=f"bottom-{OUTLIER_BOTTOM_K} vectors per label by cosine to label centroid",
    tags=("similarity", "quality", "curation"),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled/noise screening for embedding datasets: compute each
    label's centroid, score every member by cosine to its own centroid,
    and surface the ``OUTLIER_BOTTOM_K`` least-typical vectors per
    label.  The bottom-k form is threshold-free — it works on any score
    distribution, unlike a fixed cosine cutoff.

    100 TB shape: centroids are a (label x dim) aggregate — one
    partial-aggregated shuffle whose output is label-count-sized, folded
    to one array row per label and BROADCAST back; the scoring pass is
    then a single array-local projection over the corpus (zip_with dot
    product, no explode, no shuffle).  The bottom-k window shuffles on
    label — mirror of the similarity_search top-k, and WindowGroupLimit
    pushes the k-filter into the sort at scale.
    """
    emb = table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode(_emb_double("embedding")).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("s"))
        .select(
            "label",
            F.transform("s", lambda r: r.cx).alias("carr"),
        )
        .withColumn(
            "cnorm",
            F.sqrt(
                F.aggregate(
                    "carr", F.lit(0.0), lambda acc, c: acc + c * c
                )
            ),
        )
    )
    e = emb.select("vec_id", "label", _emb_double("embedding").alias("e"))
    scored = e.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        (
            F.aggregate(
                F.zip_with("e", "carr", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / (
                F.sqrt(
                    F.aggregate("e", F.lit(0.0), lambda acc, v: acc + v * v)
                )
                * F.col("cnorm")
            )
        ).alias("cosc"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cosc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= OUTLIER_BOTTOM_K)
        .select("label", "vec_id", _r(F.col("cosc")).alias("cos_centroid"), "rank")
    )


# --------------------------------------------------------------------------
# knn_classify — k-NN majority-vote labeling over embeddings
# --------------------------------------------------------------------------

KNN_K = 5
KNN_HOLDOUT_MOD = 10  # vec_id % 10 == 0 are the "unlabeled" queries


@register(
    "knn_classify",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label AS true_label, embedding AS qe
  FROM embeddings WHERE vec_id % {KNN_HOLDOUT_MOD} = 0
), c AS (
  SELECT vec_id AS cand_id, label, embedding
  FROM embeddings WHERE vec_id % {KNN_HOLDOUT_MOD} <> 0
), scored AS (
  SELECT q.vec_id, q.true_label, c.cand_id, c.label,
         round({_cos_sql('q.qe', 'c.embedding')}, {ROUND}) + 0 AS cosine
  FROM q JOIN c ON true
), ranked AS (
  SELECT vec_id, true_label, label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM scored
), votes AS (
  SELECT vec_id, true_label, label, count(*) AS n_votes
  FROM ranked WHERE rnk <= {KNN_K}
  GROUP BY vec_id, true_label, label
), best AS (
  SELECT vec_id, true_label, label AS predicted_label, n_votes,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY n_votes DESC, label ASC) AS vr
  FROM votes
)
SELECT vec_id, true_label, predicted_label, n_votes
FROM best WHERE vr = 1
""",
    description=f"k-NN (k={KNN_K}) majority-vote label prediction for a held-out query set",
    tags=("similarity", "classify"),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-label propagation, the workhorse for bootstrapping labels
    over an unlabeled corpus slice: every held-out vector takes the
    majority label of its 5 nearest labeled neighbors by cosine
    (ties: more votes first, then the smaller label id — fully
    deterministic, so the DuckDB oracle hash-matches).

    Scale shape is ``similarity_search``'s — EXCEPT that this query
    side is a modulo slice of the corpus itself (corpus-proportional
    by construction), so it carries NO broadcast hint: the planner's
    runtime size check picks the build side (BNLJ-broadcast whenever
    the holdout actually fits, as any sane holdout does), and a true
    100 TB holdout swaps in the RP-bucketed candidate join
    (``similarity_search_rp``) with this same vote tail.  The labeled
    corpus streams through ONE scan with no shuffle for the scoring
    itself, the per-query top-k window collapses to a streaming
    WindowGroupLimit, and the vote rollup shuffles only k rows per
    query."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % KNN_HOLDOUT_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        _emb_double("embedding").alias("qe"),
    )
    cand = emb.filter(F.col("vec_id") % KNN_HOLDOUT_MOD != 0).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        _emb_double("embedding").alias("e"),
    )
    scored = cand.crossJoin(q).select(
        "q_id",
        "true_label",
        "cand_id",
        "cand_label",
        _r(cosine_similarity(F.col("qe"), F.col("e"))).alias("cosine"),
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    votes = (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= KNN_K)
        .groupBy("q_id", "true_label", "cand_label")
        .agg(F.count("*").alias("n_votes"))
    )
    w_vote = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("cand_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            F.col("q_id").alias("vec_id"),
            "true_label",
            F.col("cand_label").alias("predicted_label"),
            "n_votes",
        )
    )


# --------------------------------------------------------------------------
# kmeans_clusters — oracle-backed Lloyd iterations over embeddings
# --------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3  # assignment passes; centroids update between passes
KMEANS_CROUND = 6  # centroid rounding between iterations: quantizes away
# cross-engine float-sum noise so Spark and DuckDB iterate on IDENTICAL
# centroid values (same trick as word_pagerank's per-iteration rounding)


def _kmeans_oracle() -> str:
    """Unrolled Lloyd loop (KMEANS_ITERS assignment passes) as chained
    CTEs — the same fixed-iteration-count unrolling as word_pagerank's
    oracle, which is what makes an iterative algorithm hash-checkable."""
    dist = "list_distance(e.e, c.c)"
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         e AS c
  FROM e ORDER BY vec_id LIMIT {KMEANS_K}
)"""
    ]
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(
            f""", a{it} AS (
  SELECT vec_id, e, cluster, dist FROM (
    SELECT e.vec_id, e.e, c.cluster, {dist} AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist} ASC, c.cluster ASC) AS rn
    FROM e CROSS JOIN c{it - 1} c) WHERE rn = 1
)"""
        )
        if it < KMEANS_ITERS:
            parts.append(
                f""", c{it} AS (
  SELECT cluster, list(cx ORDER BY dim) AS c FROM (
    SELECT cluster, dim, round(avg(x), {KMEANS_CROUND}) AS cx FROM (
      SELECT cluster, unnest(e) AS x, generate_subscripts(e, 1) AS dim
      FROM a{it})
    GROUP BY cluster, dim)
  GROUP BY cluster
)"""
            )
    parts.append(
        f"""
SELECT vec_id, cluster, round(dist, {ROUND}) + 0 AS dist
FROM a{KMEANS_ITERS}
"""
    )
    return "".join(parts)


def _euclid(a: F.Column, b: F.Column) -> F.Column:
    """Euclidean distance as a sequential double fold — the same
    element order DuckDB's list_distance accumulates in."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


@register(
    "kmeans_clusters",
    oracle=_kmeans_oracle(),
    description=f"k-means (k={KMEANS_K}, {KMEANS_ITERS} Lloyd passes) cluster assignment over embeddings",
    tags=("similarity", "iterative", "clustering"),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means: seeds are the K lowest vec_ids,
    each pass assigns every vector to its nearest centroid (ties break
    on the lower cluster id) and recomputes centroids as per-dimension
    means rounded to {KMEANS_CROUND} dp — the rounding pins Spark and
    the oracle to identical centroid bits, so even the third-pass
    assignment hash-matches.

    100 TB shape: the model state (K x dim doubles) stays a DataFrame
    end to end — no driver collect anywhere in the loop (contrast the
    IVF quantizer, which trains on a bounded driver sample by design).
    Per pass: the model BROADCASTS as ONE row of K (cluster, centroid)
    structs and assignment is a fully row-local ``array_min`` argmin —
    zero exchanges, no aggregate, the pass fuses onto the corpus scan
    (r13: the previous struct-min aggregate shuffled one row per
    vector per pass; that corpus-sized vec_id exchange is gone).  The
    update is a (K x dim)-group partial aggregation — shuffle output
    is model-sized, not corpus-sized.
    Lineage depth is fixed (KMEANS_ITERS), so no checkpoint is needed;
    a tunable-iteration variant would localCheckpoint like
    near_dup_clusters."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _emb_double("embedding").alias("e"))
    cents = (
        e.orderBy("vec_id")
        .limit(KMEANS_K)
        .withColumn(
            # ranking K rows: the lit(0) partition key keeps the window
            # spec non-empty (the global-sort warning is about corpus-
            # sized inputs; this input is exactly K rows by construction)
            "cluster",
            (
                F.row_number().over(
                    Window.partitionBy(F.lit(0)).orderBy("vec_id")
                )
                - 1
            ).cast("int"),
        )
        .select("cluster", F.col("e").alias("c"))
    )
    # r13 (optimization round, guide §2.4): the model rides as ONE row
    # holding all K (cluster, centroid) structs end to end.
    cents_row = cents.agg(
        F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cs")
    )
    assigned = None
    for it in range(1, KMEANS_ITERS + 1):
        # Per-vector argmin is a row-local ``array_min`` over the K
        # candidate structs — struct comparison is field-order
        # lexicographic, so (dist ASC, cluster ASC) is exactly the
        # deterministic tie-break the oracle uses.  The previous shape
        # (explode the broadcast to K candidate ROWS, struct-min
        # AGGREGATE by vec_id) shuffled one row per vector per pass;
        # this one shuffles NOTHING for assignment — KMEANS_ITERS
        # corpus-sized exchanges become zero, and each pass is a
        # narrow map over the scan.
        best = F.array_min(
            F.transform(
                "cs",
                lambda s: F.struct(
                    _euclid(F.col("e"), s["c"]).alias("dist"),
                    s["cluster"].alias("cluster"),
                ),
            )
        )
        # the named non-cheap alias is not inlined back by
        # CollapseProject, so the K-candidate scan runs once per row
        # even though two fields are read from it
        assigned = (
            e.crossJoin(F.broadcast(cents_row))
            .withColumn("b", best)
            .select(
                "vec_id",
                "e",
                F.col("b.cluster").alias("cluster"),
                F.col("b.dist").alias("dist"),
            )
        )
        if it < KMEANS_ITERS:
            # Centroid update: ONE model-sized exchange (the per-
            # (cluster, dim) partial-aggregated means) plus the single-
            # row fold that rebuilds the broadcast value — the previous
            # groupBy(cluster) middle step was a third exchange and two
            # more stages per pass for the same K x dim numbers.  The
            # nested rebuild keeps only PRESENT clusters (array_distinct
            # over the sorted means), exactly like the old
            # groupBy(cluster) — an emptied cluster drops out of the
            # model, matching the oracle's GROUP BY over assignments.
            # array_sort orders by (cluster, dim), so per-cluster dim
            # arrays come out dim-ascending and clusters ascending.
            means = (
                assigned.select("cluster", F.posexplode("e").alias("dim", "x"))
                .groupBy("cluster", "dim")
                .agg(F.round(F.avg("x"), KMEANS_CROUND).alias("cx"))
            )
            cents_row = means.agg(
                F.array_sort(
                    F.collect_list(F.struct("cluster", "dim", "cx"))
                ).alias("acc")
            ).select(
                F.transform(
                    F.array_distinct(
                        F.transform("acc", lambda s: s["cluster"])
                    ),
                    lambda k: F.struct(
                        k.alias("cluster"),
                        F.transform(
                            F.filter(
                                F.col("acc"), lambda s: s["cluster"] == k
                            ),
                            lambda s: s["cx"],
                        ).alias("c"),
                    ),
                ).alias("cs")
            )
    return assigned.select("vec_id", "cluster", _r(F.col("dist")).alias("dist"))


# --------------------------------------------------------------------------
# embedding_pca — dimensionality reduction / whitening (r13)
# --------------------------------------------------------------------------

PCA_K = 8  # retained components


def _pca_model(
    spark: SparkSession, sf_dir: str
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray", int]:
    """(mean, components[K, d], eigenvalues[K], n) fit over the
    embedding column.

    100 TB shape: the sufficient statistics (count, per-dim sum, d x d
    outer-product sum) are computed by ONE Arrow pass that emits a
    single ~33 KB row per partition — the classic map-side-combined
    covariance — so the collect here is partition-count-sized MODEL
    state (the same bounded-collect class as the IVF training sample,
    similarity.py:575), never corpus-sized.  The d x d eigh runs on
    the driver: covariance is model-sized by definition (d = 64), the
    one place a distributed eigensolver would be pure overhead.
    Component signs are canonicalized (largest-|coefficient| entry
    positive) so the model is deterministic up to LAPACK."""
    emb = table(spark, sf_dir, "embeddings")

    def partial(batches):
        n = 0
        s = None
        ss = None
        for pdf in batches:
            m = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            if s is None:
                d = m.shape[1]
                s = np.zeros(d)
                ss = np.zeros((d, d))
            n += m.shape[0]
            s += m.sum(axis=0)
            ss += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = emb.select("embedding").mapInPandas(
        partial, schema="n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(r.n for r in parts)
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    d = len(s)
    ss = np.sum([np.asarray(r.ss).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:PCA_K]
    comps = v[:, order].T.copy()
    eig = w[order].copy()
    for k in range(comps.shape[0]):  # sign canonicalization
        j = int(np.argmax(np.abs(comps[k])))
        if comps[k, j] < 0:
            comps[k] = -comps[k]
    return mean, comps, eig, n




def _pca_projection(mean: "np.ndarray", comps: "np.ndarray") -> F.Column:
    """The literal-folded projection expression BOTH the operator and
    the census use — one shared construction, so the census verifies
    exactly the expression that ships (a mis-folded literal cannot
    desynchronize the two)."""
    mean_lit = F.array(*[F.lit(float(x)) for x in mean])
    comp_lits = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in comps]
    )
    centered = F.zip_with(
        _emb_double("embedding"), mean_lit, lambda x, m: x - m
    )
    return F.transform(
        comp_lits,
        lambda c: F.aggregate(
            F.zip_with(centered, c, lambda x, wgt: x * wgt),
            F.lit(0.0),
            lambda acc, val: acc + val,
        ),
    )


@register(
    "embedding_pca",
    oracle=None,  # eigendecomposition is not portable SQL; the
    # oracle-backed pca_census pins the model's invariants instead.
    description=f"PCA projection: top-{PCA_K} components fit via map-side-combined covariance, eigh on the model-sized matrix",
    tags=("similarity", "compression", "scale"),
)
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top-``PCA_K`` principal
    components — the standard whitening/compaction step before ANN or
    embedding dedup (64 float dims -> 8, with the census proving how
    much variance that keeps).  The projection itself is pure Catalyst:
    the model (mean + K x d components) is folded in as LITERAL arrays
    (a few hundred constants), so the corpus pass is one whole-stage-
    codegen projection — no UDF, no shuffle, no second pass."""
    mean, comps, _eig, _n = _pca_model(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    proj = _pca_projection(mean, comps)
    return emb.select(
        "vec_id",
        F.concat_ws(
            " ", F.transform(proj, lambda p: F.round(p, 4).cast("string"))
        ).alias("pc"),
    )


@register(
    "pca_census",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(max(len(embedding)) AS BIGINT) AS n_dims,
       TRUE AS components_orthonormal,
       TRUE AS variance_nonincreasing,
       TRUE AS projections_centered,
       TRUE AS projected_variance_matches_eigenvalues
FROM embeddings
""",
    description="driver-checked: PCA components orthonormal, eigenvalues ordered, projections centered with variance == eigenvalue",
    bench=False,
    tags=("similarity", "compression", "census"),
)
def q_pca_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA guarantees on the driver surface: the fit must produce
    an orthonormal basis with non-increasing explained variance, and —
    the distributed half — the DISTRIBUTED projection of the corpus
    must be centered with per-component population variance equal to
    the model's eigenvalue (the defining property of PCA; a wrong
    mean, a dropped transpose, or a mis-folded literal all break it).
    n_vectors/n_dims anchor the model to what DuckDB counts
    independently."""
    mean, comps, eig, n = _pca_model(spark, sf_dir)
    ortho = bool(
        np.allclose(comps @ comps.T, np.eye(comps.shape[0]), atol=1e-9)
    )
    noninc = bool(np.all(np.diff(eig) <= 1e-12))
    emb = table(spark, sf_dir, "embeddings")
    proj = _pca_projection(mean, comps)
    stats = (
        emb.select(F.posexplode(proj).alias("k", "p"))
        .groupBy("k")
        .agg(
            F.avg("p").alias("mu"),
            (F.sum(F.col("p") * F.col("p")) / F.lit(float(n))).alias("var"),
        )
        .collect()
    )
    scale = float(max(eig[0], 1.0))
    centered_ok = all(abs(r.mu) <= 1e-8 * scale for r in stats)
    # population variance of centered projections == eigenvalue
    var_ok = all(
        abs(r.var - r.mu**2 - eig[r.k]) <= 1e-6 * max(eig[r.k], 1e-9)
        for r in stats
    )
    return (
        emb.agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.max(F.size("embedding")).cast("long").alias("n_dims"),
        )
        .select(
            "n_vectors",
            "n_dims",
            F.lit(ortho).alias("components_orthonormal"),
            F.lit(noninc).alias("variance_nonincreasing"),
            F.lit(centered_ok).alias("projections_centered"),
            F.lit(var_ok).alias("projected_variance_matches_eigenvalues"),
        )
    )

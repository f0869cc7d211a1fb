"""Per-file bloom sidecar: the data-skipping contract — zero false
negatives (bloom lookup == full-index lookup for any term) and a real
skip (candidate files a strict subset of the letter directory) — plus
the homoglyph canonicalization round-trip the dedup census relies on."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from inverted_index_using_the_map_reduce_paradigm_spark.functions.text import (
    CONFUSABLES,
    canonical_text,
)
from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
    stored_index_dir,
)
from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
    bloom_candidate_files,
    bloom_pruned_lookup,
)

SF = "/root/testdata/sf0.001"


def _lookup_rows(df, term):
    return sorted(
        (r.word, list(r.postings), r.doc_freq, r.letter)
        for r in df.filter(F.col("word") == term).collect()
    )


def test_bloom_lookup_has_no_false_negatives(spark):
    idx = stored_index_dir(spark, SF, "bloomed")
    full = spark.read.parquet(idx)
    for term in ("scan", "join", "the", "batch", "window"):
        want = _lookup_rows(full, term)
        got = _lookup_rows(
            bloom_pruned_lookup(spark, idx, idx + "_bloom", term), term
        )
        assert got == want, term
        assert want, f"fixture should contain {term!r}"


def test_bloom_missing_term_is_empty_not_error(spark):
    idx = stored_index_dir(spark, SF, "bloomed")
    got = bloom_pruned_lookup(
        spark, idx, idx + "_bloom", "zzzznotaword"
    ).collect()
    assert got == []


def test_bloom_lookup_build_runs_only_the_sidecar_collect(spark, count_jobs):
    """Once the stored index is resolved, building the lookup runs one
    Spark job, the sidecar's candidate-file collect: the candidate read
    takes the index's schema instead of inferring it."""
    idx = stored_index_dir(spark, SF, "bloomed")
    bloom_pruned_lookup(spark, idx, idx + "_bloom", "scan")
    df, jobs = count_jobs(
        lambda: bloom_pruned_lookup(spark, idx, idx + "_bloom", "scan")
    )
    assert jobs == 1
    assert _lookup_rows(df, "scan") == _lookup_rows(spark.read.parquet(idx), "scan")


def test_bloom_actually_skips_files_within_the_letter_dir(spark):
    idx = stored_index_dir(spark, SF, "bloomed")
    letter_files = glob.glob(os.path.join(idx, "letter=s", "*.parquet"))
    assert len(letter_files) > 1, "bloomed layout must fragment the dir"
    cand = [
        f
        for f in bloom_candidate_files(spark, idx + "_bloom", "scan")
        if "/letter=s/" in f
    ]
    assert 1 <= len(cand) < len(letter_files), (
        f"{len(cand)} candidates of {len(letter_files)} files — "
        "the bloom must skip at least one file"
    )


def test_canonical_inverts_homoglyph_perturbation(spark):
    latin = "".join(CONFUSABLES.values())
    cyr = "".join(CONFUSABLES)
    texts = ["the fast scan", "a\u200bb c", "payee proxy copy"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    perturbed = df.select(
        F.concat(
            F.substring("text", 1, 1),
            F.lit("\u200b"),
            F.translate(F.expr("substring(text, 2)"), latin, cyr),
        ).alias("text")
    )
    got = [r.c for r in perturbed.select(
        canonical_text(F.col("text")).alias("c")).collect()]
    want = [r.c for r in df.select(
        canonical_text(F.col("text")).alias("c")).collect()]
    assert got == want

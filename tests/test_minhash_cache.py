"""Lifetime contract of the dedup operators' Spark intermediates (see
the operators/dedup.py module docstring): a call keeps nothing between
calls. Results constructed ahead of consumption, or interleaved with
other calls, equal their single-call results however many calls run in
between; and once a call returns, Spark's cache manager is as it was
and the block store holds at most the checkpoints the result itself
reads."""

from __future__ import annotations

import pytest

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    dedup,
)

pytestmark = pytest.mark.filterwarnings("ignore")


def _docs(spark, seed: int, n: int = 30):
    rows = []
    for i in range(n):
        base = f"s{seed} doc {i} " + " ".join(
            f"w{seed}x{i}y{j}" for j in range(12)
        )
        rows.append((i, base, "en"))
    # one planted near-dup pair per corpus
    rows.append((n, rows[0][1] + " tail", "en"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )


def _pairs(df) -> set:
    return {tuple(r) for r in df.collect()}


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_interleaved_funnel_calls_match_single_calls(spark):
    d1, d2 = _docs(spark, 1), _docs(spark, 2)
    # singleton references for the expected results
    want1 = _pairs(dedup.near_dedup_minhash(d1))
    want2 = _pairs(dedup.near_dedup_minhash(d2))
    assert want1 and want2  # the planted pairs were found
    # interleave: issue both, then four more calls, materialize last
    r1 = dedup.near_dedup_minhash(d1)
    r2 = dedup.near_dedup_minhash(d2)
    for i in range(4):
        dedup.near_dedup_minhash(_docs(spark, 10 + i))
    assert _pairs(r1) == want1 and _pairs(r2) == want2


def test_blocked_pipeline_construct_ahead_results_stay_live(spark):
    """The blocked set-overlap pipeline (ngram/containment) reads its
    shingle table from an eager checkpoint, which cannot recompute
    once freed: results constructed before any of them materializes
    must stay collectable through any number of further calls."""
    d1, d2 = _docs(spark, 20), _docs(spark, 21)
    want1 = _pairs(dedup.ngram_jaccard_dupes(d1))
    want2 = _pairs(dedup.containment_dupes(d2))
    assert want1
    r1 = dedup.ngram_jaccard_dupes(d1)
    r2 = dedup.containment_dupes(d2)
    for i in range(4):
        dedup.ngram_jaccard_dupes(_docs(spark, 22 + i)).collect()
    assert _pairs(r1) == want1 and _pairs(r2) == want2


def test_probe_corpus_sh_path_matches_inline_derivation(spark, tmp_path):
    """incremental_near_dups_indexed can take a pre-materialized
    corpus shingle table (corpus_sh) so probe-per-micro-batch streams
    shingle the static corpus once instead of 3x per batch. The
    corpus_sh path must be value-identical to the inline derivation,
    and an inline result constructed ahead stays valid through four
    more probes."""
    base = _docs(spark, 30)
    batch = spark.createDataFrame(
        [(200, base.collect()[0].text + " tail tail", "en"),
         (201, "completely unrelated fresh content words here", "en")],
        "doc_id long, text string, lang string",
    )
    idx = str(tmp_path / "bidx")
    dedup.write_band_index(base, idx, tokenizer="whitespace")

    def triples(df):
        return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}

    inline = triples(
        dedup.incremental_near_dups_indexed(spark, idx, base, batch)
    )
    ahead = dedup.incremental_near_dups_indexed(spark, idx, base, batch)
    for _ in range(4):
        dedup.incremental_near_dups_indexed(spark, idx, base, batch)
    assert triples(ahead) == inline

    corpus_sh = dedup._band_shingles(base, "whitespace").localCheckpoint(
        eager=True
    )
    try:
        shared = triples(
            dedup.incremental_near_dups_indexed(
                spark, idx, base, batch, corpus_sh=corpus_sh
            )
        )
    finally:
        dedup._free_checkpoints(corpus_sh)
    assert inline == shared and inline  # planted pair found, values equal


def test_calls_leave_no_cache_and_only_their_result_checkpoints(
    spark, tmp_path
):
    """After each call returns, the cache manager is as it was (empty
    here), every persistent RDD the call added is a checkpoint the
    returned DataFrame reads, and the result is still readable."""
    spark.catalog.clearCache()
    docs = _docs(spark, 40)
    idx = str(tmp_path / "bidx")
    dedup.write_band_index(docs, idx, tokenizer="whitespace")
    batch = spark.createDataFrame(
        [(300, docs.collect()[0].text + " more", "en")],
        "doc_id long, text string, lang string",
    )
    corpus_sh = dedup._band_shingles(docs, "whitespace").localCheckpoint(
        eager=True
    )
    labels = dedup.near_dup_clusters(docs)
    erase = spark.createDataFrame([(0,)], "doc_id long")
    calls = {
        "near_dedup_minhash": lambda: dedup.near_dedup_minhash(docs),
        "ngram_jaccard_dupes": lambda: dedup.ngram_jaccard_dupes(docs),
        "containment_dupes": lambda: dedup.containment_dupes(docs),
        "incremental_near_dups_indexed": lambda: (
            dedup.incremental_near_dups_indexed(spark, idx, docs, batch)
        ),
        "incremental_near_dups_indexed(corpus_sh)": lambda: (
            dedup.incremental_near_dups_indexed(
                spark, idx, docs, batch, corpus_sh=corpus_sh
            )
        ),
        "near_dup_pairs_checkpointed": lambda: (
            dedup.near_dup_pairs_checkpointed(docs)
        ),
        "near_dup_clusters": lambda: dedup.near_dup_clusters(docs),
        "edit_distance_dupes": lambda: dedup.edit_distance_dupes(docs),
        "cluster_labels_erase": lambda: (
            dedup.cluster_labels_erase(labels, docs, erase)
        ),
    }
    try:
        for name, call in calls.items():
            before = _persistent_ids(spark)
            out = call()
            assert _cache_empty(spark), name
            owned = {rdd.id() for rdd in dedup._checkpoint_rdds(out)}
            assert _persistent_ids(spark) - before <= owned, name
            assert out.count() >= 0, name
        # the caller's shingle table was read, never freed
        assert corpus_sh.count() > 0
    finally:
        dedup._free_checkpoints(corpus_sh)

"""Erasure on the maintained CLUSTER artifact (round-8: the fourth
maintained artifact the right-to-be-forgotten story reaches). The
load-bearing property is the GHOST BRIDGE: when components merged
THROUGH the erased document, dropping its row alone would keep the
surviving docs fused by connectivity that no longer exists — the
erase must re-derive the touched clusters' structure. Equivalence
oracle: erase-then-serve == full recompute on corpus-minus-erased."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    dedup,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
    load_table,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
    cluster_labels_erase_artifact,
)

pytestmark = pytest.mark.filterwarnings("ignore")

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", 0) for i, t in rows], DOC_SCHEMA
    )


def _labels(df):
    return {(r.doc_id, r.cluster_id) for r in df.collect()}


def test_ghost_bridge_splits_cluster(spark):
    """A~X and X~B with A≁B: one 3-member cluster through the bridge
    X. Erasing X must dissolve the cluster entirely — A and B lose
    their only connection, become unpaired, and LEAVE the labels
    (pure row deletion would have kept them fused under X's old
    cluster structure)."""
    # word-3-gram shingles with a shared core: A=C·P, B=C·Q,
    # X=C·P·Q gives J(A,X)≈0.66 and J(X,B)≈0.63 (pairs) but
    # J(A,B)≈0.32 (no pair) — verified candidate-and-verify values
    C = [f"core{i}" for i in range(42)]
    P = [f"pp{i}" for i in range(42)]
    Q = [f"qq{i}" for i in range(42)]
    docs = _docs(
        spark,
        [(1, " ".join(C + P)), (2, " ".join(C + P + Q)), (3, " ".join(C + Q))],
    )

    labels = dedup.near_dup_clusters(docs)
    assert _labels(labels) == {(1, 1), (2, 1), (3, 1)}

    erase = spark.createDataFrame([(2,)], "doc_id long")
    after = dedup.cluster_labels_erase(labels, docs, erase)
    assert _labels(after) == set()  # cluster dissolved, no orphans


def test_partial_split_keeps_surviving_pair(spark):
    """4-cluster A~X~B plus C~A: erasing X keeps the (A, C) pair as
    its own cluster while B drops out."""
    C = [f"core{i}" for i in range(42)]
    P = [f"pp{i}" for i in range(42)]
    Q = [f"qq{i}" for i in range(42)]
    docs = _docs(
        spark,
        [
            (1, " ".join(C + P)),
            (2, " ".join(C + P + Q)),  # X bridges A and B
            (3, " ".join(C + Q)),
            (4, " ".join(C + P) + " extra"),  # ~ A (and ~ X) only
        ],
    )
    labels = dedup.near_dup_clusters(docs)
    assert {r.cluster_id for r in labels.collect()} == {1}

    erase = spark.createDataFrame([(2,)], "doc_id long")
    after = dedup.cluster_labels_erase(labels, docs, erase)
    assert _labels(after) == {(1, 1), (4, 1)}


def test_erase_equals_full_recompute_on_corpus(spark, sf_dir):
    """On the real corpus + synthetic dupes, the request-bounded fold
    equals near_dup_clusters rebuilt from scratch without the erased
    subjects — label-for-label (the registered oracle's property,
    asserted Spark-vs-Spark here so pytest covers it at any SF)."""
    dupes = dedup.with_synthetic_dupes(load_table(spark, sf_dir, "documents"))
    labels = dedup.near_dup_clusters(dupes)
    erase = dupes.filter(
        (F.col("doc_id") < 100000)
        & (
            F.col("doc_id") % dedup.CLUSTER_ERASE_MOD
            == dedup.CLUSTER_ERASE_RESIDUE
        )
    ).select("doc_id")
    folded = _labels(dedup.cluster_labels_erase(labels, dupes, erase))

    survivors = dupes.join(erase, "doc_id", "left_anti")
    rebuilt = _labels(dedup.near_dup_clusters(survivors))
    assert folded == rebuilt and len(rebuilt) > 0
    erased = {r.doc_id for r in erase.collect()}
    assert not erased & {d for d, _ in folded}


def test_artifact_erase_swap_and_idempotence(spark, tmp_path):
    """The published-artifact wrapper: rename-swap publish, counts
    surfaced, idempotent re-erase, torn-swap refusal, and the
    no-artifact no-op."""
    C = [f"core{i}" for i in range(42)]
    P = [f"pp{i}" for i in range(42)]
    Q = [f"qq{i}" for i in range(42)]
    docs = _docs(
        spark,
        [
            (1, " ".join(C + P)),
            (2, " ".join(C + P + Q)),
            (3, " ".join(C + Q)),
            (4, " ".join(C + P) + " extra"),
        ],
    )
    lab = str(tmp_path / "lab")

    # no artifact yet, no marker: no-op
    erase = spark.createDataFrame([(2,)], "doc_id long")
    out = cluster_labels_erase_artifact(spark, lab, docs, erase)
    assert out == {"n_rows_before": 0, "n_rows_after": 0, "n_erased_rows": 0}

    os.makedirs(lab, exist_ok=True)
    dedup.near_dup_clusters(docs).write.parquet(f"{lab}/labels")
    with open(f"{lab}/_labels_seeded", "w") as fh:
        fh.write("1")

    out = cluster_labels_erase_artifact(spark, lab, docs, erase)
    assert out["n_rows_before"] == 4 and out["n_erased_rows"] == 1
    assert out["n_rows_after"] == 2
    survivors = docs.filter(F.col("doc_id") != 2)
    assert _labels(spark.read.parquet(f"{lab}/labels")) == _labels(
        dedup.near_dup_clusters(survivors)
    )

    # idempotent: same request again touches nothing, result stable
    again = cluster_labels_erase_artifact(spark, lab, survivors, erase)
    assert again["n_erased_rows"] == 0
    assert again["n_rows_after"] == out["n_rows_after"]
    assert _labels(spark.read.parquet(f"{lab}/labels")) == _labels(
        dedup.near_dup_clusters(survivors)
    )

    # torn swap: labels dir missing but marker present → loud failure
    import shutil as _sh

    _sh.rmtree(f"{lab}/labels")
    with pytest.raises(RuntimeError, match="seed marker"):
        cluster_labels_erase_artifact(spark, lab, survivors, erase)

    # URI guard
    with pytest.raises(ValueError, match="os.listdir"):
        cluster_labels_erase_artifact(spark, "s3a://b/lab", docs, erase)


def test_streaming_erase_matches_batch_and_replays_idempotent(
    spark, sf_dir, tmp_path
):
    """Two erase-request micro-batches streamed in pinned order must
    land the labels exactly where the one-shot batch erase lands
    them, and a checkpoint-reset replay must change nothing (erasure
    is idempotent — the algebraic replay-safety argument)."""
    import glob as _glob
    import shutil as _sh
    import time as _time

    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        run_cluster_erase_stream,
    )

    dupes = dedup.with_synthetic_dupes(load_table(spark, sf_dir, "documents"))
    er = dupes.filter(
        (F.col("doc_id") < 100000)
        & (
            F.col("doc_id") % dedup.CLUSTER_ERASE_MOD
            == dedup.CLUSTER_ERASE_RESIDUE
        )
    ).select("doc_id")
    b0 = er.filter(F.col("doc_id") % 8 == 1)
    b1 = er.filter(F.col("doc_id") % 8 == 5)

    lab = str(tmp_path / "lab")
    os.makedirs(lab)
    dedup.near_dup_clusters(dupes).write.parquet(f"{lab}/labels")
    with open(f"{lab}/_labels_seeded", "w") as fh:
        fh.write("1")

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base_t = _time.time()
    for i, b in enumerate((b0, b1)):
        stage = str(tmp_path / f"stage_{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{in_dir}/b{i}.parquet"
        _sh.move(part, dst)
        os.utime(dst, (base_t + 10 * i, base_t + 10 * i))

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = run_cluster_erase_stream(
            spark, stream, lab, dupes, str(tmp_path / ckpt)
        )
        assert q.awaitTermination(300)

    run("ck1")
    streamed = _labels(spark.read.parquet(f"{lab}/labels"))

    # == one-shot batch erase of the union
    batch_labels = dedup.near_dup_clusters(dupes)
    expected = _labels(dedup.cluster_labels_erase(batch_labels, dupes, er))
    assert streamed == expected and len(expected) > 0

    # checkpoint-reset replay: both batches re-erase — no change
    run("ck2")
    assert _labels(spark.read.parquet(f"{lab}/labels")) == streamed

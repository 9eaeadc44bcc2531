"""StreamingSemanticDedup: the foreachBatch embedding-dedup loop probing
the persisted SemDedup (k-means-partitioned) index across micro-batches.

Scenario mirrors test_streaming_dedup: batch 0 bootstraps (contains an
in-batch near-dup); batch 1 carries a near-dup of an accepted batch-0
vector, an in-batch near-dup pair, and a novel vector. Only novel vectors
come out; committed replay is a no-op."""

import os

import numpy as np
import pytest

from cdc_connector_spark.streaming.dedup import StreamingSemanticDedup

RNG = np.random.default_rng(21)
VA = RNG.normal(0, 1, 12)
VB = RNG.normal(0, 1, 12)
VC = RNG.normal(0, 1, 12)
VD = RNG.normal(0, 1, 12)


def _df(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )


def _write_batches(spark, src_dir):
    _df(
        spark,
        [(1, VA), (2, VB), (3, VA * 1.001)],  # 3 = in-batch near-dup of 1
    ).repartition(1).write.parquet(os.path.join(src_dir, "f0"))
    _df(
        spark,
        [
            (10, VA + 0.001),   # near-dup of accepted corpus vector 1
            (11, VC),           # novel
            (12, VC * 1.002),   # in-batch near-dup of 11
            (13, VD),           # novel
        ],
    ).repartition(1).write.parquet(os.path.join(src_dir, "f1"))


@pytest.fixture
def sem_run(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    ded = StreamingSemanticDedup(
        index_path=str(tmp_path / "index"),
        out_dir=str(tmp_path / "out"),
        k=2,
        iters=2,
        threshold=0.98,
    )
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = ded.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    return ded


def test_streaming_semdedup_end_to_end(spark, sem_run):
    ded = sem_run
    assert ded.committed_batch_ids() == [0, 1]
    kept = sorted(r["vec_id"] for r in ded.accepted(spark).collect())
    # batch 0: 1, 2 (3 is a near-dup of 1); batch 1: 11 and 13 only
    assert kept == [1, 2, 11, 13]

    by_batch = {s["batch_id"]: s for s in ded.stats}
    assert by_batch[0]["dropped_in_batch"] == 1       # vec 3
    assert by_batch[0]["kept"] == 2
    assert by_batch[1]["dropped_in_batch"] == 1       # vec 12 loses to 11
    assert by_batch[1]["dropped_vs_corpus"] == 1      # vec 10 matches corpus 1
    assert by_batch[1]["kept"] == 2


def test_streaming_semdedup_replay_is_noop(spark, sem_run, tmp_path):
    ded = sem_run
    batch1 = spark.read.parquet(os.path.join(str(tmp_path / "src"), "f1"))
    ded.process_batch(batch1, 1)  # committed replay — marker short-circuits
    assert sorted(r["vec_id"] for r in ded.accepted(spark).collect()) == [1, 2, 11, 13]


def test_streaming_semdedup_index_grows(spark, sem_run, tmp_path):
    """A later probe near a batch-1 survivor must hit it: the index append
    really extended the corpus under the PINNED bootstrap centroids."""
    from cdc_connector_spark.ops.cluster import semdedup_index_lookup

    hits = semdedup_index_lookup(
        _df(spark, [(99, VC * 0.999)]),
        str(tmp_path / "index"),
        threshold=0.98,
    ).collect()
    assert {r["corpus_id"] for r in hits} == {11}


def test_streaming_semdedup_empty_batch_commits_cleanly(spark, sem_run):
    """An empty trigger must commit a marker AND keep accepted() readable
    (the marker-implies-dir invariant plus footer-less-dir skipping)."""
    ded = sem_run
    empty = _df(spark, [])
    ded.process_batch(empty, 7)
    assert 7 in ded.committed_batch_ids()
    assert sorted(r["vec_id"] for r in ded.accepted(spark).collect()) == [1, 2, 11, 13]


def test_crash_window_replay_does_not_self_match(spark, sem_run, tmp_path):
    """THE crash window (r11 review): index appended, marker NOT written,
    batch replays. Without self-pair exclusion in semdedup_index_lookup
    the replayed batch matches ITSELF in the index at cos 1.0, every
    survivor is dropped, and the overwrite replaces good output with an
    empty dir — silent data loss. The replay must converge to the same
    survivors instead."""
    ded = sem_run
    # simulate the crash: delete batch 1's marker (its index rows and
    # output dir are already on disk — exactly the torn state)
    os.remove(ded.committer.marker(1))
    batch1 = spark.read.parquet(os.path.join(str(tmp_path / "src"), "f1"))
    ded.process_batch(batch1, 1)  # re-applies for real this time
    kept = sorted(r["vec_id"] for r in ded.accepted(spark).collect())
    assert kept == [1, 2, 11, 13]  # batch-1 survivors NOT self-suppressed


def test_semdedup_index_lookup_excludes_self_pairs(spark, sem_run, tmp_path):
    """Unit form of the crash-window property: probing the index with a
    batch whose ids are ALREADY in it returns no (id, id) self rows, but
    still reports true cross-id duplicates."""
    from cdc_connector_spark.ops.cluster import semdedup_index_lookup

    probe = _df(spark, [(11, VC), (99, VC * 0.999)])  # 11 is in the index
    hits = semdedup_index_lookup(
        probe, str(tmp_path / "index"), threshold=0.98
    ).collect()
    assert all(r["batch_id"] != r["corpus_id"] for r in hits)
    # 99 still matches corpus 11; 11's only suppressor would be itself
    assert {(r["batch_id"], r["corpus_id"]) for r in hits} == {(99, 11)}

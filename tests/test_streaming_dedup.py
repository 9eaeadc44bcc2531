"""Streaming corpus dedup: exact watermarked dedup + the foreachBatch
near-dup applier probing the persisted MinHash index across micro-batches.

The scenario mirrors the production ingest loop: batch 0 bootstraps the
index; batch 1 carries an exact dup of batch 0, a near-dup of batch 0
(word-level mutation over a long shared shingle set), a near-dup pair
WITHIN batch 1, and novel docs. Only novel docs may come out, and replaying
a committed batch must change nothing (effective exactly-once)."""

import os

import pytest

from pyspark.sql import functions as F

from cdc_connector_spark.streaming.dedup import StreamingCorpusDedup, exact_dedup_stream

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen sleepy "
    "badgers watch the meadow and count the falling autumn leaves slowly"
)
NEAR = BASE.replace("autumn", "spring")  # 1-word mutation → Jaccard >> 0.5
NOVEL1 = (
    "completely different subject matter about distributed query engines "
    "and the cost model of shuffle exchanges in large analytical plans"
)
NOVEL2 = (
    "a third unrelated document describing tidal patterns in estuaries "
    "and the migratory habits of arctic terns across two hemispheres"
)
NOVEL2_NEAR = NOVEL2.replace("arctic", "antarctic")


def _write_batches(spark, src_dir):
    schema = "doc_id bigint, text string"
    spark.createDataFrame(
        [(1, BASE), (2, NOVEL1), (3, BASE)], schema  # 3 = exact dup of 1
    ).repartition(1).write.parquet(os.path.join(src_dir, "f0"))
    spark.createDataFrame(
        [
            (10, BASE),          # exact dup of corpus doc 1
            (11, NEAR),          # near-dup of corpus doc 1
            (12, NOVEL2),        # novel
            (13, NOVEL2_NEAR),   # near-dup of 12 WITHIN this batch
        ],
        schema,
    ).repartition(1).write.parquet(os.path.join(src_dir, "f1"))


@pytest.fixture
def dedup_run(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    ded = StreamingCorpusDedup(
        index_path=str(tmp_path / "index"),
        out_dir=str(tmp_path / "out"),
        jaccard_threshold=0.5,
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = ded.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    return ded


def test_streaming_neardup_end_to_end(spark, dedup_run):
    ded = dedup_run
    assert ded.committed_batch_ids() == [0, 1]
    kept = sorted(r["doc_id"] for r in ded.accepted(spark).collect())
    # batch 0: 1 and 2 survive (3 is an exact dup of 1); batch 1: only 12
    assert kept == [1, 2, 12]

    by_batch = {s["batch_id"]: s for s in ded.stats}
    assert by_batch[0]["dropped_exact"] == 1          # doc 3
    assert by_batch[0]["kept"] == 2
    assert by_batch[1]["dropped_exact"] == 0
    # 11 near-dups 10 and 13 near-dups 12 WITHIN the batch (higher id loses);
    # the remaining 10 then near-dups corpus doc 1
    assert by_batch[1]["dropped_neardup_in_batch"] == 2
    assert by_batch[1]["dropped_vs_corpus"] == 1
    assert by_batch[1]["kept"] == 1


def test_streaming_dedup_replay_is_noop(spark, dedup_run, tmp_path):
    """Re-running a committed batch (at-least-once replay) changes nothing:
    the marker short-circuits, output and index stay byte-stable."""
    ded = dedup_run
    out_files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ded.out_dir)
        for f in fs
    )
    batch1 = spark.read.parquet(os.path.join(str(tmp_path / "src"), "f1"))
    ded.process_batch(batch1, 1)  # replay
    assert sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(ded.out_dir) for f in fs
    ) == out_files
    assert sorted(r["doc_id"] for r in ded.accepted(spark).collect()) == [1, 2, 12]


def test_streaming_dedup_uncommitted_replay_recovers(spark, tmp_path):
    """A batch that crashed before its marker (here: simulated by deleting
    the marker) reprocesses to the same survivors, and duplicate index rows
    from the partial append don't duplicate lookup results."""
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    ded = StreamingCorpusDedup(
        index_path=str(tmp_path / "index"),
        out_dir=str(tmp_path / "out"),
        jaccard_threshold=0.5,
    )
    b0 = spark.read.parquet(os.path.join(src, "f0"))
    b1 = spark.read.parquet(os.path.join(src, "f1"))
    ded.process_batch(b0, 0)
    ded.process_batch(b1, 1)
    # crash window: index append landed but the marker didn't
    os.remove(ded.committer.marker(1))
    ded.process_batch(b1, 1)  # recovery replay re-runs the whole batch
    assert sorted(r["doc_id"] for r in ded.accepted(spark).collect()) == [1, 2, 12]
    # the replayed batch observed its own earlier append in the index: doc
    # 12 now matches "corpus" doc 12 — excluded as a self-pair, so kept
    # stays 1 and nothing is double-counted
    assert ded.stats[-1]["kept"] == 1


def test_exact_dedup_stream_watermarked(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = "doc_id bigint, ts timestamp, text string"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", BASE), (2, "2024-01-01 00:01:00", BASE),
         (3, "2024-01-01 00:02:00", NOVEL1)],
        "doc_id bigint, ts string, text string",
    ).withColumn("ts", F.to_timestamp("ts")).repartition(1).write.parquet(
        os.path.join(src, "f0")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = exact_dedup_stream(stream, text_col="text", ts_col="ts", delay="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("exact_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = sorted(r["doc_id"] for r in spark.sql("select * from exact_dedup_out").collect())
    assert rows == [1, 3]


def test_corpus_dedup_idle_trigger_is_cheap_and_committed(spark, tmp_path):
    """An empty micro-batch must marker-commit WITHOUT running the
    MinHash/index machinery (r11 review: once an index exists the corpus
    probe aggregates the whole stored bands table even for 0 rows)."""
    from cdc_connector_spark.streaming.dedup import StreamingCorpusDedup

    ded = StreamingCorpusDedup(
        index_path=str(tmp_path / "idx"), out_dir=str(tmp_path / "out")
    )
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    ded.process_batch(empty, 0)
    assert ded.committed_batch_ids() == [0]
    import os as _os

    assert not _os.path.exists(_os.path.join(str(tmp_path / "out"), "batch=0"))

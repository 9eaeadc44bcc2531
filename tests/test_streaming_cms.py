"""Streaming Count-Min-Sketch monitor: incremental counter maintenance
across micro-batches, batch-op parity (CMS linearity), replay idempotence,
estimate semantics (never under-count; zero for unseen keys)."""

import os

import pytest

from cdc_connector_spark.ops.sketch import cms_counters
from cdc_connector_spark.streaming.cms import StreamingCMS

SCHEMA = "k string, v bigint"


def _write_batches(spark, src_dir):
    # batch 0: a×3, b×1 ; batch 1: a×2, c×1
    spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 1)], SCHEMA
    ).repartition(1).write.parquet(os.path.join(src_dir, "f0"))
    spark.createDataFrame(
        [("a", 1), ("a", 1), ("c", 1), (None, 1)], SCHEMA
    ).repartition(1).write.parquet(os.path.join(src_dir, "f1"))


@pytest.fixture
def cms_run(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    mon = StreamingCMS(state_dir=str(tmp_path / "state"), key_col="k", depth=3, width=32)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = mon.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    return mon, src


def test_streaming_equals_batch_sketch(spark, cms_run):
    """CMS linearity end-to-end: counters after 2 micro-batches must equal
    the one-shot batch sketch over the union of the data."""
    mon, src = cms_run
    assert len(mon.committed_batch_ids()) == 2
    got = {
        (r["row_idx"], r["pos"], r["cnt"]) for r in mon.counters(spark).collect()
    }
    union = spark.read.option("recursiveFileLookup", "true").parquet(src)
    exp = {
        (r["row_idx"], r["pos"], r["cnt"])
        for r in cms_counters(union, "k", depth=3, width=32).collect()
    }
    assert got == exp


def test_estimates_never_undercount_and_unseen_zero(spark, cms_run):
    mon, _ = cms_run
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "k string")
    est = {r["key"]: r["est"] for r in mon.estimate(keys).collect()}
    assert est["a"] >= 5 and est["b"] >= 1 and est["c"] >= 1
    # width 32 with 3 keys: no collisions expected -> exact
    assert est["a"] == 5
    # unseen key: at least one of its 3 cells is empty -> 0 (the LEFT-join
    # zero-cell rule; an inner join would over-report)
    assert est["zz"] == 0


def test_replay_is_idempotent(spark, cms_run):
    mon, src = cms_run
    before = {(r["row_idx"], r["pos"], r["cnt"]) for r in mon.counters(spark).collect()}
    # replay the last committed batch verbatim — marker short-circuits
    last = mon.committed_batch_ids()[-1]
    batch = spark.read.option("recursiveFileLookup", "true").parquet(src)
    mon.process_batch(batch, last)
    after = {(r["row_idx"], r["pos"], r["cnt"]) for r in mon.counters(spark).collect()}
    assert after == before


def test_uncommitted_rerun_converges(spark, tmp_path):
    """Crash window: batch written but marker missing -> rerun overwrites
    the same directory and commits once (no double count)."""
    mon = StreamingCMS(state_dir=str(tmp_path / "s2"), key_col="k", depth=3, width=32)
    b0 = spark.createDataFrame([("a", 1), ("a", 1)], SCHEMA)
    mon.process_batch(b0, 0)
    b1 = spark.createDataFrame([("a", 1), ("b", 1)], SCHEMA)
    mon.process_batch(b1, 1)
    # simulate crash-after-write-before-marker on batch 1, then replay
    os.remove(mon.committer.marker(1))
    mon.process_batch(b1, 1)
    est = {
        r["key"]: r["est"]
        for r in mon.estimate(spark.createDataFrame([("a",), ("b",)], "k string")).collect()
    }
    assert est == {"a": 3, "b": 1}


def test_state_is_bounded_and_pruned(spark, tmp_path):
    mon = StreamingCMS(state_dir=str(tmp_path / "s3"), key_col="k", depth=2, width=8)
    for i in range(4):
        mon.process_batch(
            spark.createDataFrame([(f"k{j}", 1) for j in range(20)], SCHEMA), i
        )
    # counter table never exceeds depth*width rows
    assert mon.counters(spark).count() <= 16
    # superseded snapshots pruned (latest + crash cushion only)
    dirs = [d for d in os.listdir(mon.state_dir) if d.startswith("counters_batch=")]
    assert sorted(dirs) == ["counters_batch=2", "counters_batch=3"]

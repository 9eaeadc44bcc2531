"""Streaming lateness monitor: merged linear counters equal the one-shot
watermark_sizing report, replay idempotence, crash-window convergence,
bounded+pruned state."""

import os

import pytest

from pyspark.sql import functions as F

from cdc_connector_spark.ops.timeseries import watermark_sizing
from cdc_connector_spark.streaming.lateness import StreamingLateness

SCHEMA = "ts timestamp, ingest_ts timestamp, event_type string"


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "ts_s string, in_s string, event_type string"
    ).select(
        F.to_timestamp("ts_s").alias("ts"),
        F.to_timestamp("in_s").alias("ingest_ts"),
        "event_type",
    )


@pytest.fixture
def lateness_run(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 0: clicks on time and 2/4/12 minutes late
    _rows(
        spark,
        [
            ("2024-01-01 01:00:00", "2024-01-01 01:00:00", "click"),
            ("2024-01-01 00:58:00", "2024-01-01 01:00:00", "click"),
            ("2024-01-01 00:56:00", "2024-01-01 01:00:00", "click"),
            ("2024-01-01 00:48:00", "2024-01-01 01:00:00", "click"),
        ],
    ).repartition(1).write.parquet(os.path.join(src, "f0"))
    # batch 1: more clicks + views with a 20-minute straggler
    _rows(
        spark,
        [
            ("2024-01-01 01:30:00", "2024-01-01 01:30:00", "click"),
            ("2024-01-01 01:24:00", "2024-01-01 01:30:00", "click"),
            ("2024-01-01 01:30:00", "2024-01-01 01:30:00", "view"),
            ("2024-01-01 01:10:00", "2024-01-01 01:30:00", "view"),
        ],
    ).repartition(1).write.parquet(os.path.join(src, "f1"))
    mon = StreamingLateness(
        state_dir=str(tmp_path / "state"), candidate_minutes=(1, 5, 10)
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = mon.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    return mon, src


def test_stream_equals_one_shot_sizing(spark, lateness_run):
    mon, src = lateness_run
    assert len(mon.committed_batch_ids()) == 2
    got = {
        (r["event_type"], r["watermark_minutes"]): (r["total"], r["late"], r["late_share"])
        for r in mon.report(spark).collect()
    }
    union = spark.read.schema(SCHEMA).option("recursiveFileLookup", "true").parquet(src)
    exp = {
        (r["event_type"], r["watermark_minutes"]): (r["total"], r["late"], r["late_share"])
        for r in watermark_sizing(union, candidate_minutes=(1, 5, 10)).collect()
    }
    assert got == exp
    # hand-checked cells: 6 clicks, lateness {0,2,4,12,0,6} min
    assert got[("click", 5)] == (6, 2, pytest.approx(round(2 / 6, 6)))
    assert got[("click", 10)] == (6, 1, pytest.approx(round(1 / 6, 6)))
    assert got[("view", 10)] == (2, 1, 0.5)


def test_replay_idempotent_state_bounded_and_pruned(spark, lateness_run):
    mon, src = lateness_run
    before = {tuple(r) for r in mon.report(spark).collect()}
    last = mon.committed_batch_ids()[-1]
    batch = spark.read.schema(SCHEMA).option("recursiveFileLookup", "true").parquet(src)
    mon.process_batch(batch, last)  # replayed batch id: must be a no-op
    after = {tuple(r) for r in mon.report(spark).collect()}
    assert after == before
    # state bounded by |types| * |candidates|; old snapshots pruned
    assert mon.report(spark).count() <= 2 * 3
    dirs = [d for d in os.listdir(mon.state_dir) if d.startswith("late_batch=")]
    assert sorted(dirs) == ["late_batch=0", "late_batch=1"]


def test_crash_window_converges(spark, tmp_path):
    """A batch written but not marked (crash between write and marker)
    is re-applied on replay and converges to the same counters — the
    house crash-window test."""
    mon = StreamingLateness(state_dir=str(tmp_path / "state"), candidate_minutes=(5,))
    b0 = _rows(
        spark,
        [
            ("2024-01-01 01:00:00", "2024-01-01 01:00:00", "click"),
            ("2024-01-01 00:48:00", "2024-01-01 01:00:00", "click"),
        ],
    )
    mon.process_batch(b0, 0)
    # simulate the crash: data for batch 1 written, marker missing
    b1 = _rows(spark, [("2024-01-01 01:30:00", "2024-01-01 01:30:00", "click")])
    cur = watermark_sizing(b1, candidate_minutes=(5,)).select(
        "event_type", "watermark_minutes", "total", "late"
    )
    prev = spark.read.parquet(mon.committer.dir("late", 0))
    merged = (
        cur.unionByName(prev)
        .groupBy("event_type", "watermark_minutes")
        .agg(F.sum("total").alias("total"), F.sum("late").alias("late"))
    )
    merged.write.mode("overwrite").parquet(mon.committer.dir("late", 1))
    assert mon.committed_batch_ids() == [0]  # marker never landed
    # replay of batch 1 re-applies over the last COMMITTED state
    mon.process_batch(b1, 1)
    got = {
        (r["event_type"], r["watermark_minutes"]): (r["total"], r["late"])
        for r in mon.report(spark).collect()
    }
    assert got == {("click", 5): (3, 1)}

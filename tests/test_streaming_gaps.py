"""Streaming offset-hole monitor: islands state across micro-batches,
hole-filling on late arrival, replay idempotence, batch-op parity."""

import os

import pytest

from cdc_connector_spark.streaming.gaps import StreamingGapMonitor, merge_islands


def test_merge_islands(spark):
    # overlapping, adjacent, and disjoint ranges; two groups
    rows = [
        ("p0", 1, 3), ("p0", 2, 5), ("p0", 6, 6), ("p0", 10, 12),
        ("p1", 100, 100),
    ]
    df = spark.createDataFrame(rows, "g string, lo bigint, hi bigint")
    got = {(r["g"], r["lo"], r["hi"]) for r in merge_islands(df, "g").collect()}
    # 1-3 ∪ 2-5 ∪ 6-6 merge (6 is ADJACENT to 5); 10-12 stays apart
    assert got == {("p0", 1, 6), ("p0", 10, 12), ("p1", 100, 100)}
    # ungrouped
    df2 = spark.createDataFrame([(1, 2), (4, 5)], "lo bigint, hi bigint")
    got2 = {(r["lo"], r["hi"]) for r in merge_islands(df2).collect()}
    assert got2 == {(1, 2), (4, 5)}


def _write_batches(spark, src_dir):
    schema = "part string, seq bigint"
    # batch 0: p0 sees 1-3 and 7-8 (hole 4-6); p1 sees 1-2
    spark.createDataFrame(
        [("p0", 1), ("p0", 2), ("p0", 3), ("p0", 7), ("p0", 8), ("p1", 1), ("p1", 2)],
        schema,
    ).repartition(1).write.parquet(os.path.join(src_dir, "f0"))
    # batch 1: late arrivals FILL p0's 4-6 hole partially (5 only) and
    # extend p1 with a new hole (2 -> 5 missing 3-4); NULL must be ignored
    spark.createDataFrame(
        [("p0", 5), ("p1", 5), ("p1", None)], schema
    ).repartition(1).write.parquet(os.path.join(src_dir, "f1"))


@pytest.fixture
def gap_run(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    mon = StreamingGapMonitor(
        state_dir=str(tmp_path / "state"), id_col="seq", group_col="part"
    )
    stream = (
        spark.readStream.schema("part string, seq bigint")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = mon.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    return mon


def test_streaming_gaps_end_to_end(spark, gap_run):
    mon = gap_run
    assert mon.committed_batch_ids() == [0, 1]
    isl = {(r["part"], r["lo"], r["hi"]) for r in mon.islands(spark).collect()}
    assert isl == {
        ("p0", 1, 3), ("p0", 5, 5), ("p0", 7, 8),
        ("p1", 1, 2), ("p1", 5, 5),
    }
    holes = {(r["part"], r["gap_start"], r["gap_end"], r["missing"])
             for r in mon.holes(spark).collect()}
    # the late 5 SPLIT p0's 4-6 hole into 4-4 and 6-6
    assert holes == {
        ("p0", 4, 4, 1), ("p0", 6, 6, 1), ("p1", 3, 4, 2),
    }


def test_streaming_gaps_parity_with_batch_op(spark, gap_run, tmp_path):
    """holes() over the stream state == sequence_gaps() over the union of
    everything the stream saw (the batch/streaming parity contract)."""
    from cdc_connector_spark.validation.checks import sequence_gaps

    mon = gap_run
    all_rows = spark.read.option("recursiveFileLookup", "true").parquet(
        str(tmp_path / "src")
    )
    want = {(r["part"], r["gap_start"], r["gap_end"], r["missing"])
            for r in sequence_gaps(all_rows, "seq", group_col="part").collect()}
    got = {(r["part"], r["gap_start"], r["gap_end"], r["missing"])
           for r in mon.holes(spark).collect()}
    assert got == want


def test_streaming_gaps_replay_is_noop(spark, gap_run, tmp_path):
    mon = gap_run
    before = {(r["part"], r["lo"], r["hi"]) for r in mon.islands(spark).collect()}
    batch1 = spark.read.parquet(os.path.join(str(tmp_path / "src"), "f1"))
    mon.process_batch(batch1, 1)  # at-least-once replay
    after = {(r["part"], r["lo"], r["hi"]) for r in mon.islands(spark).collect()}
    assert after == before
    assert mon.committed_batch_ids() == [0, 1]


def test_streaming_gaps_uncommitted_replay_recovers(spark, tmp_path):
    """A crash between the islands write and the marker reprocesses to the
    same state (idempotent overwrite of the batch's islands dir)."""
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    mon = StreamingGapMonitor(
        state_dir=str(tmp_path / "state"), id_col="seq", group_col="part"
    )
    b0 = spark.read.parquet(os.path.join(src, "f0"))
    b1 = spark.read.parquet(os.path.join(src, "f1"))
    mon.process_batch(b0, 0)
    mon.process_batch(b1, 1)
    want = {(r["part"], r["lo"], r["hi"]) for r in mon.islands(spark).collect()}
    os.remove(mon.committer.marker(1))  # simulate crash-before-marker
    mon.process_batch(b1, 1)
    got = {(r["part"], r["lo"], r["hi"]) for r in mon.islands(spark).collect()}
    assert got == want


def test_streaming_gaps_healthy_stream_single_island(spark, tmp_path):
    """A contiguous stream holds exactly ONE island per group forever —
    state growth is itself the health signal."""
    mon = StreamingGapMonitor(state_dir=str(tmp_path / "state"), id_col="seq")
    for b in range(3):
        df = spark.createDataFrame(
            [(i,) for i in range(b * 10, b * 10 + 10)], "seq bigint"
        )
        mon.process_batch(df, b)
    isl = [(r["lo"], r["hi"]) for r in mon.islands(spark).collect()]
    assert isl == [(0, 29)]
    assert mon.holes(spark).count() == 0
    # superseded snapshots are pruned (latest + one crash cushion stay);
    # markers remain for every batch
    assert not os.path.isdir(mon.committer.dir("islands", 0))
    assert os.path.isdir(mon.committer.dir("islands", 1))
    assert os.path.isdir(mon.committer.dir("islands", 2))
    assert mon.committed_batch_ids() == [0, 1, 2]


def test_merge_islands_block_prefold_equivalence(spark):
    """r13 two-phase pin: the parallel within-block pre-fold is coverage-
    preserving, so islands equal the single-fold result on any fixture —
    including adjacency and spans ACROSS block boundaries, which only
    the global pass can merge."""
    import random

    rng = random.Random(13)
    rows = []
    for _ in range(300):
        lo = rng.randrange(0, 200)
        rows.append((lo, lo + rng.randrange(0, 30)))
    df = spark.createDataFrame(rows, "lo bigint, hi bigint")
    # tiny blocks force many cross-block spans; huge block = single fold
    small = {(r["lo"], r["hi"]) for r in merge_islands(df, block=8).collect()}
    big = {(r["lo"], r["hi"]) for r in merge_islands(df, block=1 << 40).collect()}
    assert small == big
    # hand-checked boundary adjacency: 7 and 8 sit in different block-4
    # blocks and MUST merge; a range spanning three blocks merges through
    df2 = spark.createDataFrame(
        [(7, 7), (8, 8), (2, 13), (20, 21)], "lo bigint, hi bigint"
    )
    got = {(r["lo"], r["hi"]) for r in merge_islands(df2, block=4).collect()}
    assert got == {(2, 13), (20, 21)}


def test_merge_islands_prefold_window_is_partitioned(spark):
    """The phase-1 window must carry the block in its partition spec —
    the whole point of the pre-fold is that an ungrouped monitor's batch
    no longer serializes through a single WindowExec task."""
    df = spark.createDataFrame([(1, 2), (4, 5)], "lo bigint, hi bigint")
    plan = merge_islands(df)._jdf.queryExecution().toString()
    # two Window operators; the first (inner/phase-1) partitions by __blk
    assert "__blk" in plan

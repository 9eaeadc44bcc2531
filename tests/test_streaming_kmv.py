"""Streaming KMV distinct-count monitor: incremental union-truncate
merge across micro-batches, batch-op parity (KMV mergeability), replay
idempotence, bounded+pruned state, production-shaped estimates (no
exact twin in the plan)."""

import os

import pytest

from cdc_connector_spark.ops.sketch import kmv_estimate, kmv_merge, kmv_sketch
from cdc_connector_spark.streaming.kmv import StreamingKMV

SCHEMA = "grp_col string, key bigint"


def _write_batches(spark, src_dir):
    # batch 0: group a keys 1..40, group b keys 1..3
    spark.createDataFrame(
        [("a", i) for i in range(1, 41)] + [("b", i) for i in range(1, 4)], SCHEMA
    ).repartition(1).write.parquet(os.path.join(src_dir, "f0"))
    # batch 1: group a keys 30..70 (overlap 30..40), group b key 3 again, NULL key
    spark.createDataFrame(
        [("a", i) for i in range(30, 71)] + [("b", 3), ("b", None)], SCHEMA
    ).repartition(1).write.parquet(os.path.join(src_dir, "f1"))


@pytest.fixture
def kmv_run(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src)
    mon = StreamingKMV(
        state_dir=str(tmp_path / "state"), key_col="key", group_col="grp_col", k=16
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


def test_streaming_equals_batch_sketch(spark, kmv_run):
    """KMV mergeability end-to-end: state after 2 micro-batches must equal
    the one-shot batch sketch over the union of the data — merge is exact,
    not approximate-on-approximate."""
    mon, src = kmv_run
    assert len(mon.committed_batch_ids()) == 2
    got = {(r["grp"], r["h"], r["rk"]) for r in mon.sketch(spark).collect()}
    union = spark.read.option("recursiveFileLookup", "true").parquet(src)
    exp = {
        (r["grp"], r["h"], r["rk"])
        for r in kmv_sketch(union, "key", "grp_col", k=16).collect()
    }
    assert got == exp


def test_estimates_production_shape(spark, kmv_run):
    """Estimates come from the bounded state only: below-k groups exact by
    construction, saturated groups the (k-1)*H/h_k estimator; the output
    carries NO exact column."""
    mon, _ = kmv_run
    est = mon.estimates(spark)
    assert set(est.columns) == {"grp", "n_sketch", "kth_hash", "est_distinct"}
    rows = {r["grp"]: r for r in est.collect()}
    # group b: 3 distinct keys < k=16 -> sketch IS the set, estimate exact
    assert rows["b"]["n_sketch"] == 3 and rows["b"]["est_distinct"] == 3.0
    # group a: 70 distinct keys, saturated sketch; estimator in a sane band
    assert rows["a"]["n_sketch"] == 16 and rows["a"]["kth_hash"] is not None
    assert 20 <= rows["a"]["est_distinct"] <= 250


def test_replay_is_idempotent(spark, kmv_run):
    mon, src = kmv_run
    before = {(r["grp"], r["h"]) for r in mon.sketch(spark).collect()}
    last = mon.committed_batch_ids()[-1]
    batch = spark.read.option("recursiveFileLookup", "true").parquet(src)
    mon.process_batch(batch, last)
    after = {(r["grp"], r["h"]) for r in mon.sketch(spark).collect()}
    assert after == before


def test_uncommitted_rerun_converges(spark, tmp_path):
    """Crash window: state written but marker missing -> rerun overwrites
    the same directory and commits once (merge of a replayed batch with
    the PREVIOUS snapshot — no double-union against its own output)."""
    mon = StreamingKMV(
        state_dir=str(tmp_path / "s2"), key_col="key", group_col="grp_col", k=8
    )
    b0 = spark.createDataFrame([("a", i) for i in range(1, 6)], SCHEMA)
    mon.process_batch(b0, 0)
    b1 = spark.createDataFrame([("a", i) for i in range(4, 10)], SCHEMA)
    mon.process_batch(b1, 1)
    os.remove(mon.committer.marker(1))
    mon.process_batch(b1, 1)
    rows = {r["grp"]: r for r in mon.estimates(spark).collect()}
    # 9 distinct keys, k=8: sketch saturated at 8 — a double-merge bug
    # can't change set contents (idempotent union) but the crash-rerun
    # must still converge to the one-shot sketch
    union = b0.unionByName(b1)
    exp = {(r["grp"], r["h"]) for r in kmv_sketch(union, "key", "grp_col", k=8).collect()}
    got = {(r["grp"], r["h"]) for r in mon.sketch(spark).collect()}
    assert got == exp and rows["a"]["n_sketch"] == 8


def test_state_is_bounded_and_pruned(spark, tmp_path):
    mon = StreamingKMV(
        state_dir=str(tmp_path / "s3"), key_col="key", group_col="grp_col", k=4
    )
    for i in range(4):
        mon.process_batch(
            spark.createDataFrame(
                [("g", j + 100 * i) for j in range(50)], SCHEMA
            ),
            i,
        )
    # sketch table never exceeds |groups| * k rows no matter the volume
    assert mon.sketch(spark).count() <= 4
    dirs = [d for d in os.listdir(mon.state_dir) if d.startswith("sketch_batch=")]
    assert sorted(dirs) == ["sketch_batch=2", "sketch_batch=3"]


def test_merge_equals_union_sketch_property(spark):
    """kmv_merge(sketch(A), sketch(B)) == sketch(A ∪ B) on overlapping,
    disjoint, and saturating inputs (the mergeability identity)."""
    A = spark.createDataFrame(
        [("x", i) for i in range(1, 30)] + [("y", 1), ("y", 2)], SCHEMA
    )
    B = spark.createDataFrame(
        [("x", i) for i in range(25, 60)] + [("z", 9)], SCHEMA
    )
    sa = kmv_sketch(A, "key", "grp_col", k=8)
    sb = kmv_sketch(B, "key", "grp_col", k=8)
    merged = {(r["grp"], r["h"], r["rk"]) for r in kmv_merge([sa, sb], k=8).collect()}
    direct = {
        (r["grp"], r["h"], r["rk"])
        for r in kmv_sketch(A.unionByName(B), "key", "grp_col", k=8).collect()
    }
    assert merged == direct
    # estimate-only projection is derivable from the merged state alone
    est = kmv_estimate(kmv_merge([sa, sb], k=8), k=8)
    assert set(est.columns) == {"grp", "n_sketch", "kth_hash", "est_distinct"}

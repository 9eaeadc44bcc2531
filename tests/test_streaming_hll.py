"""Streaming HLL distinct-count monitor: MAX-merge across micro-batches
equals the one-shot register table, replay idempotence, bounded+pruned
state, production-shaped estimates."""

import os

import pytest

from cdc_connector_spark.ops.sketch import hll_registers
from cdc_connector_spark.streaming.hll import StreamingHLL

SCHEMA = "grp_col string, key bigint"


@pytest.fixture
def hll_run(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", i) for i in range(300)] + [("b", 1), ("b", 2)], SCHEMA
    ).repartition(1).write.parquet(os.path.join(src, "f0"))
    spark.createDataFrame(
        [("a", i) for i in range(200, 600)] + [("b", 2), ("b", None)], SCHEMA
    ).repartition(1).write.parquet(os.path.join(src, "f1"))
    mon = StreamingHLL(
        state_dir=str(tmp_path / "state"), key_col="key", group_col="grp_col", p=8
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


def test_streaming_equals_batch_registers(spark, hll_run):
    mon, src = hll_run
    assert len(mon.committed_batch_ids()) == 2
    got = {(r["grp"], r["bucket"], r["mreg"]) for r in mon.registers(spark).collect()}
    union = spark.read.option("recursiveFileLookup", "true").parquet(src)
    exp = {
        (r["grp"], r["bucket"], r["mreg"])
        for r in hll_registers(union, "key", "grp_col", p=8).collect()
    }
    assert got == exp


def test_estimates_production_shape_and_accuracy(spark, hll_run):
    mon, _ = hll_run
    est = mon.estimates(spark)
    assert set(est.columns) == {"grp", "zeros", "s_scaled", "raw_est", "est"}
    rows = {r["grp"]: r for r in est.collect()}
    # group a: 600 distinct keys; p=8 keeps error well inside 20%
    assert 480 <= rows["a"]["est"] <= 720
    # group b: 2 distinct keys -> linear counting regime, near-exact
    assert rows["b"]["est"] == pytest.approx(2.0, abs=0.2)


def test_replay_is_idempotent_and_state_pruned(spark, hll_run):
    mon, src = hll_run
    before = {(r["grp"], r["bucket"], r["mreg"]) for r in mon.registers(spark).collect()}
    last = mon.committed_batch_ids()[-1]
    batch = spark.read.option("recursiveFileLookup", "true").parquet(src)
    mon.process_batch(batch, last)
    after = {(r["grp"], r["bucket"], r["mreg"]) for r in mon.registers(spark).collect()}
    assert after == before
    # register table bounded by |groups| * 2^p; old snapshots pruned
    assert mon.registers(spark).count() <= 2 * 256
    dirs = [d for d in os.listdir(mon.state_dir) if d.startswith("registers_batch=")]
    assert sorted(dirs) == ["registers_batch=0", "registers_batch=1"]


def test_precision_below_seven_rejected_at_construction(tmp_path):
    """hll_estimate needs p >= 7, so a smaller p fails before any batch
    commits state that estimates() could never read."""
    with pytest.raises(ValueError, match="p must be >= 7"):
        StreamingHLL(str(tmp_path / "state"), key_col="key", group_col="grp_col", p=6)

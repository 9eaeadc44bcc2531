"""Streaming per-column profile monitor: linear stats merge exactly
(counts/nulls/modular fingerprint), distincts ride the MAX-merged HLL
registers; stream == one-shot batch state; replay idempotence; the
stream-side fingerprint equals the batch diff's fingerprint (the
source-vs-sink compare contract)."""

import os

import pytest
from pyspark.sql import functions as F

from cdc_connector_spark.streaming.profile import StreamingColumnProfile
from cdc_connector_spark.validation.checks import (
    column_profile_diff,
    column_profile_state,
)

SCHEMA = "k long, x double, s string"
COLS = ["k", "x", "s"]


def _rows(lo, hi, null_every=0):
    out = []
    for i in range(lo, hi):
        x = None if null_every and i % null_every == 0 else float(i) / 4
        out.append((i, x, f"s{i % 5}"))
    return out


@pytest.fixture
def prof_run(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(_rows(0, 60, null_every=10), SCHEMA).repartition(1).write.parquet(
        os.path.join(src, "f0")
    )
    spark.createDataFrame(_rows(40, 120), SCHEMA).repartition(1).write.parquet(
        os.path.join(src, "f1")
    )
    mon = StreamingColumnProfile(state_dir=str(tmp_path / "state"), cols=COLS, p=8)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = mon.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    return mon, src


def test_streaming_equals_one_shot_state(spark, prof_run):
    mon, src = prof_run
    assert len(mon.committed_batch_ids()) == 2
    union = spark.read.option("recursiveFileLookup", "true").parquet(src)
    exp_counts, exp_regs = column_profile_state(union, COLS, p=8)
    got_counts = {
        (r["column"], r["rows"], r["nulls"], r["fp"])
        for r in mon.committer.read_latest(spark, "counts").collect()
    }
    exp = {
        (r["column"], r["rows"], r["nulls"], r["fp"]) for r in exp_counts.collect()
    }
    assert got_counts == exp
    got_regs = {
        (r["grp"], r["bucket"], r["mreg"])
        for r in mon.committer.read_latest(spark, "registers").collect()
    }
    assert got_regs == {
        (r["grp"], r["bucket"], r["mreg"]) for r in exp_regs.collect()
    }


def test_profile_report_and_fingerprint_matches_batch_diff(spark, prof_run):
    mon, src = prof_run
    prof = {r["column"]: r for r in mon.profile(spark).collect()}
    assert prof["k"]["rows"] == 140 and prof["k"]["nulls"] == 0
    assert prof["x"]["nulls"] == 6  # every 10th of batch 0's 60 rows
    # distinct estimate sane: k has 120 distincts, 5-col s has 5
    assert 90 <= prof["k"]["distinct_est"] <= 150
    assert prof["s"]["distinct_est"] == pytest.approx(5.0, abs=0.3)
    # the streaming fingerprint must equal the batch diff's fingerprint
    # over the same data — the source-vs-sink compare contract
    union = spark.read.option("recursiveFileLookup", "true").parquet(src)
    diff = {
        r["column"]: r for r in column_profile_diff(union, union, COLS).collect()
    }
    for c in COLS:
        assert prof[c]["fp"] == diff[c]["src_fingerprint"]


def test_replay_is_idempotent(spark, prof_run):
    mon, src = prof_run
    before = {
        (r["column"], r["rows"], r["fp"])
        for r in mon.committer.read_latest(spark, "counts").collect()
    }
    last = mon.committed_batch_ids()[-1]
    batch = spark.read.option("recursiveFileLookup", "true").parquet(src)
    mon.process_batch(batch, last)
    after = {
        (r["column"], r["rows"], r["fp"])
        for r in mon.committer.read_latest(spark, "counts").collect()
    }
    assert after == before


def test_state_bounded_and_pruned(spark, tmp_path):
    mon = StreamingColumnProfile(state_dir=str(tmp_path / "s2"), cols=COLS, p=8)
    for i in range(3):
        mon.process_batch(
            spark.createDataFrame(_rows(1000 * i, 1000 * i + 400), SCHEMA), i
        )
    assert mon.committer.read_latest(spark, "counts").count() == 3  # one row per column
    assert mon.committer.read_latest(spark, "registers").count() <= 3 * 256
    dirs = [d for d in os.listdir(mon.state_dir) if "_batch=" in d]
    assert sorted(dirs) == [
        "counts_batch=1",
        "counts_batch=2",
        "registers_batch=1",
        "registers_batch=2",
    ]


def test_precision_below_seven_rejected_at_construction(tmp_path):
    """The distinct column rides hll_estimate, which needs p >= 7: a
    smaller p fails here, not at the first profile() after batches commit."""
    with pytest.raises(ValueError, match="p must be >= 7"):
        StreamingColumnProfile(state_dir=str(tmp_path / "state"), cols=COLS, p=4)

"""streaming/ivm.py — continuously-maintained join view over CDC batches."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.streaming.ivm import StreamingJoinView


def _delta(spark, schema, rows):
    return spark.createDataFrame(rows, schema)


A_SCHEMA = (
    "o_id bigint, cust_id bigint, status string, __op string, __ts_ms bigint, "
    "__source_db string, __source_table string, __seq bigint"
)
B_SCHEMA = (
    "cust_id bigint, name string, __op string, __ts_ms bigint, "
    "__source_db string, __source_table string, __seq bigint"
)


def _mk(spark, tmp_path):
    a = TxLogMergeSink(spark, str(tmp_path / "a"), ["o_id"], num_buckets=4)
    b = TxLogMergeSink(spark, str(tmp_path / "b"), ["cust_id"], num_buckets=4)
    v = TxLogMergeSink(spark, str(tmp_path / "v"), ["o_id", "cust_id"], num_buckets=4)
    a.overwrite(
        spark.createDataFrame(
            [(1, 100, "A"), (2, 100, "B"), (3, 200, "C")],
            "o_id bigint, cust_id bigint, status string",
        )
    )
    b.overwrite(
        spark.createDataFrame([(100, "alice"), (200, "bob")], "cust_id bigint, name string")
    )
    v.overwrite(a.read().join(b.read(), "cust_id"))
    return StreamingJoinView(
        a, b, v, on=["cust_id"], a_pk=["o_id"], b_pk=["cust_id"],
        marker_dir=str(tmp_path / "m"),
    )


def _assert_view_matches(jv):
    cols = sorted(jv.view().columns)
    want = sorted(
        tuple(r)
        for r in jv.a_sink.read().join(jv.b_sink.read(), "cust_id").select(*cols).collect()
    )
    got = sorted(tuple(r) for r in jv.view().select(*cols).collect())
    assert got == want


def test_streaming_join_view_maintenance(spark, tmp_path):
    jv = _mk(spark, tmp_path)
    _assert_view_matches(jv)
    # batch a0: new order for bob + order 2 moves to cust 200 (join-key
    # change) + delete order 3
    a0 = _delta(
        spark, A_SCHEMA,
        [
            (4, 200, "D", "c", 10, "db", "t", 1),
            (2, 200, "B", "u", 10, "db", "t", 2),
            (3, None, None, "d", 10, "db", "t", 3),
        ],
    )
    jv.process_a_batch(a0, 0)
    _assert_view_matches(jv)
    assert {r["o_id"] for r in jv.view().collect()} == {1, 2, 4}
    # batch b0: rename alice, delete bob entirely (orphans orders 2 and 4)
    b0 = _delta(
        spark, B_SCHEMA,
        [(100, "alicia", "u", 20, "db", "t", 1), (200, None, "d", 20, "db", "t", 2)],
    )
    jv.process_b_batch(b0, 0)
    _assert_view_matches(jv)
    got = {(r["o_id"], r["name"]) for r in jv.view().collect()}
    assert got == {(1, "alicia")}


def test_streaming_join_view_real_stream(spark, tmp_path):
    """End-to-end through Structured Streaming: a file-backed changelog
    stream drives side A via start_a (availableNow, 1 file per trigger =
    2 micro-batches); the view converges to the recompute and the markers
    record both batches."""
    jv = _mk(spark, tmp_path)
    src = str(tmp_path / "src")
    os.makedirs(src)
    b0 = _delta(spark, A_SCHEMA, [(6, 100, "F", "c", 10, "db", "t", 1)])
    b1 = _delta(spark, A_SCHEMA, [(1, None, None, "d", 20, "db", "t", 2)])
    b0.coalesce(1).write.parquet(src + "/f0")
    b1.coalesce(1).write.parquet(src + "/f1")
    stream = (
        spark.readStream.schema(A_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = jv.start_a(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    _assert_view_matches(jv)
    assert {r["o_id"] for r in jv.view().collect()} == {2, 3, 6}
    assert jv.committers["a"].committed() == [0, 1]


def test_streaming_join_view_replay_and_crash_window(spark, tmp_path):
    jv = _mk(spark, tmp_path)
    a0 = _delta(spark, A_SCHEMA, [(5, 100, "E", "c", 10, "db", "t", 1)])
    jv.process_a_batch(a0, 0)
    snap = sorted(tuple(r) for r in jv.view().collect())
    # full replay (marker present): no-op
    jv.process_a_batch(a0, 0)
    assert sorted(tuple(r) for r in jv.view().collect()) == snap
    # crash window: marker lost after commit of state+view — replay must
    # converge to the same view (idempotent MERGE + recompute from state)
    os.remove(jv.committers["a"].marker(0))
    jv.process_a_batch(a0, 0)
    assert sorted(tuple(r) for r in jv.view().collect()) == snap
    _assert_view_matches(jv)

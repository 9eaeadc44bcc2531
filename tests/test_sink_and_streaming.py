"""TxLogMergeSink merge semantics + end-to-end streaming changelog apply."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_connector_spark.changelog.envelope import envelope_schema, flatten_envelope
from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.streaming.pipeline import ChangelogStream

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
)


def _env_df(spark, rows):
    data = [(b, a, op, ts, "db", "t", seq) for (b, a, op, ts, seq) in rows]
    return spark.createDataFrame(data, envelope_schema(ROW_SCHEMA))


def test_sink_bootstrap_apply_versions(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    assert sink.read() is None
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    assert sink.current_version() == 0 and sink.count() == 2

    batch = flatten_envelope(
        _env_df(
            spark,
            [
                ({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 10, 1),
                ({"id": 2, "val": "b"}, None, "d", 11, 2),
                (None, {"id": 3, "val": "c"}, "c", 12, 3),
            ],
        ),
        key_cols=["id"],
    )
    sink.apply(batch)
    assert sink.current_version() == 1
    rows = {r["id"]: r["val"] for r in sink.read().collect()}
    assert rows == {1: "a2", 3: "c"}


def test_streaming_changelog_end_to_end(spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"])
    # two files of envelope events, incl. replay duplicate + delete + tie
    _env_df(
        spark,
        [
            (None, {"id": 1, "val": "a"}, "c", 100, 1),
            (None, {"id": 2, "val": "b"}, "c", 100, 2),
        ],
    ).coalesce(1).write.mode("append").parquet(str(src))
    _env_df(
        spark,
        [
            ({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 200, 3),
            ({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 200, 3),  # replay dup
            ({"id": 2, "val": "b"}, None, "d", 300, 4),
            (None, {"id": 3, "val": "c"}, "c", 300, 5),
            (None, {"id": 3, "val": "c2"}, "u", 300, 6),  # same-ts tie → seq wins
        ],
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = ChangelogStream(
        spark,
        source_dir=str(src),
        sink=sink,
        row_schema=ROW_SCHEMA,
        key_cols=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    stream.run_until_caught_up(timeout_s=120)

    rows = {r["id"]: r["val"] for r in sink.read().collect()}
    assert rows == {1: "a2", 3: "c2"}

    # restart with no new files: checkpoint prevents reprocessing; state stable
    stream.run_until_caught_up(timeout_s=60)
    rows2 = {r["id"]: r["val"] for r in sink.read().collect()}
    assert rows2 == rows


def test_quarantine_dlq_on_bad_batch(spark, tmp_path, monkeypatch):
    """ST7/S12: a failing batch parks under _quarantine/batch=<id> and does
    NOT kill the stream or corrupt the sink."""
    src = tmp_path / "stream_in"
    src.mkdir()
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"])
    sink.overwrite(spark.createDataFrame([(1, "a")], ROW_SCHEMA))

    _env_df(spark, [(None, {"id": 2, "val": "b"}, "c", 10, 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = ChangelogStream(
        spark,
        source_dir=str(src),
        sink=sink,
        row_schema=ROW_SCHEMA,
        key_cols=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # sabotage the sink apply for this stream instance only
    def boom(df):
        raise RuntimeError("sink unavailable")

    monkeypatch.setattr(stream.sink, "apply", boom)
    stream.run_until_caught_up(timeout_s=120)

    qdirs = os.listdir(stream.quarantine_dir)
    assert any(d.startswith("batch=") for d in qdirs)
    parked = spark.read.parquet(os.path.join(stream.quarantine_dir, qdirs[0]))
    assert parked.count() == 1  # the bad batch is preserved for replay
    assert sink.count() == 1  # sink state untouched

    # -- replay drains the DLQ through the same transform+MERGE path --------
    monkeypatch.undo()  # sink healthy again
    assert stream.quarantined_batch_ids() != []
    replayed = stream.replay_quarantine()
    assert replayed != []
    assert stream.quarantined_batch_ids() == []  # parked dir removed
    assert sink.count() == 2  # the parked event finally applied
    assert {r["val"] for r in sink.read().filter("id = 2").collect()} == {"b"}


def test_quarantine_vacuum_retention(spark, tmp_path):
    """Vacuum removes only batches older than retention."""
    import time as _time

    from cdc_connector_spark.streaming.pipeline import (
        quarantined_batch_ids,
        vacuum_quarantine,
    )

    qdir = str(tmp_path / "sink" / "_quarantine")
    for bid in (1, 2):
        os.makedirs(os.path.join(qdir, f"batch={bid}"))
    old = _time.time() - 10 * 24 * 3600
    os.utime(os.path.join(qdir, "batch=1"), (old, old))
    removed = vacuum_quarantine(qdir, retention_s=7 * 24 * 3600.0)
    assert removed == [1]
    assert quarantined_batch_ids(qdir) == [2]


def test_dlq_cli_list_and_vacuum(tmp_path, capsys):
    import json as _json

    from cdc_connector_spark.streaming.dlq import main as dlq_main

    sink_path = tmp_path / "sink"
    qdir = sink_path / "_quarantine"
    (qdir / "batch=3").mkdir(parents=True)
    assert dlq_main(["list", "--sink-path", str(sink_path)]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out == {"quarantined": [3]}
    assert dlq_main(["vacuum", "--sink-path", str(sink_path), "--retention-hours", "0"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["removed"] == [3] and out["remaining"] == []


def test_dlq_cli_replay(spark, tmp_path, capsys, monkeypatch):
    """``replay`` reopens the sink from its path alone, applies the parked
    batch and drains the DLQ; a path that holds no table exits non-zero
    and leaves nothing behind."""
    import json as _json

    from cdc_connector_spark.streaming.dlq import main as dlq_main

    # reuse the test session instead of re-configuring it
    monkeypatch.setattr("cdc_connector_spark.session.get_spark", lambda *a, **k: spark)
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, "a")], ROW_SCHEMA))
    # a parked batch is the raw envelope micro-batch, as the stream writes it
    qdir = os.path.join(sink.path, "_quarantine")
    _env_df(spark, [(None, {"id": 2, "val": "b"}, "c", 10, 1)]).write.parquet(
        os.path.join(qdir, "batch=4")
    )

    assert dlq_main(["replay", "--sink-path", sink.path]) == 0
    assert _json.loads(capsys.readouterr().out) == {"replayed": [4], "failed": []}
    assert os.listdir(qdir) == []
    assert {r["id"]: r["val"] for r in sink.read().collect()} == {1: "a", 2: "b"}

    typo = tmp_path / "no_such_sink"
    assert dlq_main(["replay", "--sink-path", str(typo)]) == 2
    assert "key_cols" in _json.loads(capsys.readouterr().out)["error"]
    assert not typo.exists()


def test_sink_schema_evolution_merge_schema(spark, tmp_path):
    """ST8 at the sink level: a batch carrying a NEW column widens the table;
    merge_schema=True reconciles mixed bucket schemas on read."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4, merge_schema=True)
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))

    widened = spark.createDataFrame(
        [(1, "a2", "extra", "u", 10, 1)],
        "id bigint, val string, new_col string, __op string, __ts_ms bigint, __seq bigint",
    )
    sink.apply(widened)
    rows = {r["id"]: (r["val"], r["new_col"]) for r in sink.read().collect()}
    assert rows[1] == ("a2", "extra")
    assert rows[2] == ("b", None)  # untouched row: new col backfills NULL


def test_sink_composite_key(spark, tmp_path):
    """Composite-PK MERGE (the lineitem-style (orderkey, linenumber) shape)."""
    schema = T.StructType(
        [
            T.StructField("ok", T.LongType()),
            T.StructField("ln", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["ok", "ln"], num_buckets=4)
    sink.overwrite(spark.createDataFrame([(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], schema))
    batch = flatten_envelope(
        spark.createDataFrame(
            [
                ({"ok": 1, "ln": 2, "val": "b"}, {"ok": 1, "ln": 2, "val": "B2"}, "u", 10, "db", "t", 1),
                ({"ok": 2, "ln": 1, "val": "c"}, None, "d", 11, "db", "t", 2),
            ],
            envelope_schema(schema),
        ),
        key_cols=["ok", "ln"],
    )
    sink.apply(batch)
    rows = {(r["ok"], r["ln"]): r["val"] for r in sink.read().collect()}
    assert rows == {(1, 1): "a", (1, 2): "B2"}


def test_sink_num_buckets_persisted(spark, tmp_path):
    """Reopening with a different num_buckets must fail, and a reopen with
    no num_buckets must adopt the stored layout (regression: silent
    modulus mismatch corrupted the merge)."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=8)
    sink.overwrite(spark.createDataFrame([(1, "a")], ROW_SCHEMA))
    reopened = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"])
    assert reopened.num_buckets == 8
    with pytest.raises(ValueError, match="num_buckets"):
        TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=32)


def test_sink_retry_after_partial_write_is_clean(spark, tmp_path):
    """A crashed apply leaves staged data files and a staged commit file
    that was never published; neither may become visible (regression:
    duplicate rows on retry)."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    df = spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA)
    sink.overwrite(df)
    # simulate a crashed apply: its files are staged, its commit is not
    staged = os.path.join(sink.data_dir, "crashed")
    df.withColumn("__bucket", F.lit(0)).write.partitionBy("__bucket").parquet(staged)
    with open(os.path.join(sink.log_dir, ".tmp.crashed.json"), "w") as f:
        f.write('{"add":{"path":"data/crashed/__bucket=0","bucket":0}}\n')
    assert sink.current_version() == 0 and sink.count() == 2
    batch = flatten_envelope(
        _env_df(spark, [({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 10, 1)]),
        key_cols=["id"],
    )
    sink.apply(batch)  # the retried apply commits version 1
    rows = {r["id"]: r["val"] for r in sink.read().collect()}
    assert rows == {1: "a2", 2: "b"}
    assert sink.count() == 2  # no duplicates from the stale partial


def test_sink_schema_widening_requires_merge_schema(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, "a")], ROW_SCHEMA))
    widened = spark.createDataFrame(
        [(1, "a2", "x", "u", 10, 1)],
        "id bigint, val string, new_col string, __op string, __ts_ms bigint, __seq bigint",
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        sink.apply(widened)


def test_sink_schema_widening_guard_covers_new_buckets(spark, tmp_path):
    """ST8 guard hole: a widening batch whose keys all land in buckets that
    hold NO files yet (nothing to read) must still be refused — the guard
    compares against the table schema recorded in the log."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=8)
    # find two ids hashing to DIFFERENT buckets
    probe = spark.createDataFrame([(i,) for i in range(1, 50)], "id bigint")
    by_bucket = {
        r["b"]: r["id"]
        for r in probe.select("id", sink._bucket_expr().alias("b")).collect()
    }
    assert len(by_bucket) >= 2
    buckets = sorted(by_bucket)
    id_a, id_b = by_bucket[buckets[0]], by_bucket[buckets[1]]
    sink.overwrite(spark.createDataFrame([(id_a, "a")], ROW_SCHEMA))
    # only bucket[0] exists; widen via a key landing in absent bucket[1]
    widened = spark.createDataFrame(
        [(id_b, "b", "x", "c", 10, 1)],
        "id bigint, val string, new_col string, __op string, __ts_ms bigint, __seq bigint",
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        sink.apply(widened)

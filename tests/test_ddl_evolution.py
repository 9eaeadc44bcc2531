"""DDL evolution beyond additive columns (SURVEY.md §1.1 schema-history
stream, connectors/sources/mariadb/trading.json:23-37): rename, type-widen,
and drop applied MID-STREAM, with late pre-DDL events in flight.

Each case asserts value-level correctness of the post-DDL state, and the
guard cases pin the rejected shapes (key rename/drop, narrowing)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_connector_spark.changelog.apply import apply_changes
from cdc_connector_spark.changelog.ddl import (
    DropColumn,
    RenameColumn,
    WidenColumn,
    apply_changes_with_ddl,
    apply_ddl,
    normalize_batch,
)

pytestmark = pytest.mark.usefixtures("spark")


def _state(spark):
    return spark.createDataFrame(
        [(1, "alice", 10, 1.5), (2, "bob", 20, 2.5)],
        "id int, user string, qty int, score float",
    )


def _batch(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_rename_mid_stream_with_late_old_name_event(spark):
    """DDL renames user→owner_user_id; the next batch carries the NEW name,
    but a late event (produced pre-DDL, at-least-once delivery) still says
    `user`. Both must land in owner_user_id."""
    ddl = [RenameColumn("user", "owner_user_id")]
    batch = _batch(
        spark,
        [
            # post-DDL producer: new name
            (1, "alice2", 11, 1.5, "u", 100, 1),
            # pre-DDL straggler: old name routed via normalize_batch below
        ],
        "id int, owner_user_id string, qty int, score float, __op string, __ts_ms long, __seq long",
    )
    late = _batch(
        spark,
        [(3, "carol", 30, 3.5, "c", 90, 0)],
        "id int, user string, qty int, score float, __op string, __ts_ms long, __seq long",
    )
    out = apply_changes_with_ddl(
        _state(spark), batch.unionByName(normalize_batch(late, ddl)), ["id"], ddl
    )
    rows = {r["id"]: r for r in out.collect()}
    assert set(out.columns) == {"id", "owner_user_id", "qty", "score"}
    assert rows[1]["owner_user_id"] == "alice2"  # updated via new name
    assert rows[2]["owner_user_id"] == "bob"  # carried forward from old column
    assert rows[3]["owner_user_id"] == "carol"  # late pre-DDL insert renamed


def test_rename_mixed_producers_same_batch(spark):
    """One batch holding BOTH names (mixed producer fleet mid-rollout):
    old-name values backfill NULL new-name cells, old column dropped."""
    ddl = [RenameColumn("user", "owner_user_id")]
    mixed = _batch(
        spark,
        [(1, None, "alice3", "u", 100, 1), (3, "carol", None, "c", 100, 2)],
        "id int, user string, owner_user_id string, __op string, __ts_ms long, __seq long",
    )
    norm = normalize_batch(mixed, ddl)
    assert "user" not in norm.columns
    vals = {r["id"]: r["owner_user_id"] for r in norm.collect()}
    assert vals == {1: "alice3", 3: "carol"}


def test_widen_mid_stream_cast_forward(spark):
    """qty int→bigint mid-stream: existing state casts forward, the post-DDL
    batch carries values past 2^31, and a late narrow-typed event still
    applies."""
    ddl = [WidenColumn("qty", "bigint")]
    big = 2**31 + 7
    batch = _batch(
        spark,
        [(1, "alice", big, 1.5, "u", 100, 1)],
        "id int, user string, qty long, score float, __op string, __ts_ms long, __seq long",
    )
    late = _batch(
        spark,
        [(3, "carol", 30, 3.5, "c", 90, 0)],
        "id int, user string, qty int, score float, __op string, __ts_ms long, __seq long",
    )
    out = apply_changes_with_ddl(
        _state(spark), batch.unionByName(normalize_batch(late, ddl)), ["id"], ddl
    )
    assert dict(out.dtypes)["qty"] == "bigint"
    rows = {r["id"]: r["qty"] for r in out.collect()}
    assert rows == {1: big, 2: 20, 3: 30}


def test_widen_decimal_and_int_to_decimal(spark):
    df = spark.createDataFrame([(1, 5)], "id int, v int")
    out = apply_ddl(df, [WidenColumn("v", "decimal(12,2)")], ["id"])
    assert dict(out.dtypes)["v"] == "decimal(12,2)"
    assert out.collect()[0]["v"] == 5
    # decimal precision growth ok; scale shrink rejected
    d = spark.createDataFrame([(1,)], "id int").withColumn(
        "v", F.lit("1.25").cast("decimal(10,2)")
    )
    apply_ddl(d, [WidenColumn("v", "decimal(14,4)")], ["id"])
    with pytest.raises(ValueError, match="not a lossless widening"):
        apply_ddl(d, [WidenColumn("v", "decimal(10,1)")], ["id"])


def test_drop_mid_stream_with_late_event_still_carrying_column(spark):
    """DDL drops score; a late event still carries it — value ignored, row
    applies. Re-adding `score` later is a fresh additive column (NULL for
    rows written while dropped), never a resurrection."""
    ddl = [DropColumn("score")]
    late = _batch(
        spark,
        [(3, "carol", 30, 9.9, "c", 90, 0)],
        "id int, user string, qty int, score float, __op string, __ts_ms long, __seq long",
    )
    out = apply_changes_with_ddl(_state(spark), normalize_batch(late, ddl), ["id"], ddl)
    assert "score" not in out.columns
    assert {r["id"] for r in out.collect()} == {1, 2, 3}
    # fresh additive column after the drop: old rows NULL, new rows typed
    readd = _batch(
        spark,
        [(4, "dan", 40, "x", "c", 200, 0)],
        "id int, user string, qty int, score string, __op string, __ts_ms long, __seq long",
    )
    out2 = apply_changes(out, readd, ["id"])
    vals = {r["id"]: r["score"] for r in out2.collect()}
    assert vals[4] == "x" and vals[1] is None and vals[3] is None


def test_ddl_guards(spark):
    st = _state(spark)
    with pytest.raises(ValueError, match="key column"):
        apply_ddl(st, [RenameColumn("id", "pk")], ["id"])
    with pytest.raises(ValueError, match="key column"):
        apply_ddl(st, [DropColumn("id")], ["id"])
    with pytest.raises(ValueError, match="not a lossless widening"):
        apply_ddl(st, [WidenColumn("qty", "smallint")], ["id"])
    with pytest.raises(ValueError, match="no such column"):
        apply_ddl(st, [RenameColumn("ghost", "g2")], ["id"])
    with pytest.raises(ValueError, match="already exists"):
        apply_ddl(st, [RenameColumn("user", "qty")], ["id"])
    # ops validate IN ORDER: rename then widen of the new name is legal
    out = apply_ddl(
        st, [RenameColumn("qty", "quantity"), WidenColumn("quantity", "bigint")], ["id"]
    )
    assert dict(out.dtypes)["quantity"] == "bigint"


def test_widen_validates_against_evolving_schema(spark):
    """Widen must check the type AT THAT POINT in the op sequence, not the
    original schema: a narrowing widen of a renamed column, or a second
    widen that narrows back, must be rejected (idempotent-replay invariant)."""
    st = _state(spark)  # qty is int
    # widen of a renamed column: validated against the renamed column's type
    with pytest.raises(ValueError, match="not a lossless widening"):
        apply_ddl(st, [RenameColumn("qty", "q2"), WidenColumn("q2", "smallint")], ["id"])
    # second widen of the same column narrowing back below the first
    with pytest.raises(ValueError, match="not a lossless widening"):
        apply_ddl(st, [WidenColumn("qty", "bigint"), WidenColumn("qty", "int")], ["id"])
    # widen of a column that a preceding op dropped is an error, not a skip
    with pytest.raises(ValueError, match="no such column"):
        apply_ddl(st, [DropColumn("score"), WidenColumn("score", "double")], ["id"])
    # the legal ladder still passes: rename -> widen -> widen further
    out = apply_ddl(
        st,
        [
            RenameColumn("qty", "q2"),
            WidenColumn("q2", "int"),
            WidenColumn("q2", "bigint"),
        ],
        ["id"],
    )
    assert dict(out.dtypes)["q2"] == "bigint"


def test_replay_idempotent_across_ddl_boundary(spark):
    """Replaying the same (ddl, batch) pair must be a no-op — the ST4/ST1
    guarantee holds across a schema change."""
    ddl = [RenameColumn("user", "owner_user_id"), WidenColumn("qty", "bigint")]
    batch = _batch(
        spark,
        [(1, "alice2", 11, 1.5, "u", 100, 1), (2, None, 0, 0.0, "d", 100, 2)],
        "id int, user string, qty int, score float, __op string, __ts_ms long, __seq long",
    )
    once = apply_changes_with_ddl(_state(spark), batch, ["id"], ddl)
    # same ddl list replays as a no-op (already-applied rename is skipped)
    twice = apply_changes_with_ddl(once, batch, ["id"], ddl)
    assert sorted(once.collect()) == sorted(twice.collect())


def test_sink_schema_migration_round_trip(spark):
    """``TxLogMergeSink.ddl``: rename + widen + drop, then a post-DDL batch
    applies and reads back correctly."""
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink

    with tempfile.TemporaryDirectory() as root:
        sink = TxLogMergeSink(spark, os.path.join(root, "t"), ["id"], num_buckets=4)
        sink.overwrite(_state(spark))
        ddl = [
            RenameColumn("user", "owner_user_id"),
            WidenColumn("qty", "bigint"),
            DropColumn("score"),
        ]
        sink.ddl(ddl)
        post = _batch(
            spark,
            [(3, "carol", 2**31 + 7, "c", 100, 1)],
            "id int, owner_user_id string, qty long, __op string, __ts_ms long, __seq long",
        )
        sink.apply(post)
        got = sink.read()
        assert set(got.columns) == {"id", "owner_user_id", "qty"}
        assert dict(got.dtypes)["qty"] == "bigint"
        rows = {r["id"]: r for r in got.collect()}
        assert rows[2]["owner_user_id"] == "bob" and rows[3]["qty"] == 2**31 + 7


def test_streaming_rename_ddl_mixed_shapes(spark, tmp_path):
    """Mid-stream rename through the LIVE streaming path: the sink was
    migrated user->owner_user_id; the stream's row_schema is the UNION of
    old+new fields so both event shapes parse, and ddl_ops normalizes each
    micro-batch (pre-DDL stragglers land in the new column)."""
    from pyspark.sql import types as T

    from cdc_connector_spark.changelog.envelope import envelope_schema
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.streaming.pipeline import ChangelogStream

    union_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("user", T.StringType()),
            T.StructField("owner_user_id", T.StringType()),
        ]
    )
    src = tmp_path / "in"
    src.mkdir()
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"], num_buckets=2)
    sink.overwrite(
        spark.createDataFrame([(1, "alice")], "id long, owner_user_id string")
    )
    rows = [
        # pre-DDL straggler: old column populated
        (None, {"id": 2, "user": "bob", "owner_user_id": None}, "c", 100, 1, "db", "t"),
        # post-DDL producer: new column populated
        (None, {"id": 3, "user": None, "owner_user_id": "carol"}, "c", 200, 2, "db", "t"),
        # update to an existing key through the old shape
        ({"id": 1, "user": "alice", "owner_user_id": None},
         {"id": 1, "user": "alice2", "owner_user_id": None}, "u", 300, 3, "db", "t"),
    ]
    data = [(b, a, op, ts, db, t, seq) for (b, a, op, ts, seq, db, t) in rows]
    spark.createDataFrame(data, envelope_schema(union_schema)).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = ChangelogStream(
        spark,
        source_dir=str(src),
        sink=sink,
        row_schema=union_schema,
        key_cols=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        ddl_ops=[RenameColumn("user", "owner_user_id")],
    )
    stream.run_until_caught_up(timeout_s=120)
    assert stream.quarantined_batch_ids() == []
    got = {r["id"]: r["owner_user_id"] for r in sink.read().collect()}
    assert got == {1: "alice2", 2: "bob", 3: "carol"}
    assert "user" not in sink.read().columns

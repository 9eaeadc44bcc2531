"""TxLogMergeSink.restore — O(1) metadata rollback (Delta RESTORE).

Pins: restored reads equal the target version, ZERO data files are touched
(file inventory unchanged), history gains a RESTORE commit (no rewrite),
schema/DDL state rolls back with the data, CDF reports the restore's
row-level effect, and a restore past the vacuum horizon fails loudly.
"""

import glob
import json
import os

import pytest
from pyspark.sql import types as T

from cdc_connector_spark.changelog.envelope import envelope_schema, flatten_envelope
from cdc_connector_spark.changelog.txlog import CommitConflict, TxLogMergeSink

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
)


def _batch(spark, rows):
    data = [(b, a, op, ts, "db", "t", seq) for (b, a, op, ts, seq) in rows]
    return flatten_envelope(
        spark.createDataFrame(data, envelope_schema(ROW_SCHEMA)), key_cols=["id"]
    )


def _data_files(path):
    return sorted(
        p
        for p in glob.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True)
    )


@pytest.fixture
def three_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))  # v0
    sink.apply(_batch(spark, [(None, {"id": 3, "val": "c"}, "c", 10, 1)]))  # v1
    sink.apply(
        _batch(
            spark,
            [
                ({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 20, 2),
                ({"id": 2, "val": "b"}, None, "d", 21, 3),
            ],
        )
    )  # v2
    return sink, path


def test_restore_is_metadata_only_and_reads_back(spark, three_versions):
    sink, path = three_versions
    assert {r["id"]: r["val"] for r in sink.read().collect()} == {1: "a2", 3: "c"}
    v1_rows = {r["id"]: r["val"] for r in sink.read(version=1).collect()}

    inventory_before = _data_files(path)
    sink.restore(1)
    assert _data_files(path) == inventory_before  # zero files written/deleted

    assert sink.current_version() == 3
    assert {r["id"]: r["val"] for r in sink.read().collect()} == v1_rows == {
        1: "a",
        2: "b",
        3: "c",
    }
    # history preserved: in-between versions still readable, RESTORE logged
    assert {r["id"]: r["val"] for r in sink.read(version=2).collect()} == {1: "a2", 3: "c"}
    ops = [h["operation"] for h in sink.history()]
    assert ops[-1] == "RESTORE" and sink.history()[-1]["restored_version"] == 1


def test_restore_to_head_is_noop(spark, three_versions):
    sink, _ = three_versions
    v = sink.current_version()
    sink.restore(v)
    assert sink.current_version() == v


def test_restore_nonexistent_version_raises(spark, three_versions):
    sink, _ = three_versions
    with pytest.raises(ValueError, match="does not exist"):
        sink.restore(99)


def test_restore_cdf_reports_rollback_rows(spark, three_versions):
    sink, _ = three_versions
    sink.restore(1)
    ch = sink.table_changes(3, 3).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    # v2 deleted id=2 and updated id=1; the restore reverses both
    assert by_type.get("insert") == {2}
    assert by_type.get("update_preimage") == {1}
    assert by_type.get("update_postimage") == {1}


def test_restore_past_vacuum_horizon_fails_loudly(spark, three_versions):
    sink, _ = three_versions
    sink.restore(1)  # v3
    sink.vacuum(retain_versions=0)  # drops files removed at or before v3
    with pytest.raises(ValueError, match="vacuumed"):
        sink.restore(2)
    # current head still reads fine
    assert {r["id"] for r in sink.read().collect()} == {1, 2, 3}


def test_restore_rolls_back_ddl_schema(spark, tmp_path):
    from cdc_connector_spark.changelog.ddl import RenameColumn

    path = str(tmp_path / "t")
    sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    sink.overwrite(spark.createDataFrame([(1, "a")], ROW_SCHEMA))  # v0
    sink.ddl([RenameColumn("val", "value")])  # v1, metadata-only
    assert sink.read().columns == ["id", "value"]
    sink.restore(0)
    assert sink.read().columns == ["id", "val"]
    assert {r["id"]: r["val"] for r in sink.read().collect()} == {1: "a"}


def test_restore_rolls_back_widened_types(spark, tmp_path):
    """Restore to a pre-widen version must report the NARROW type again
    (the widened_types map is DDL state like column_mapping: restore
    overwrites it, and the next checkpoint persists the rolled-back map —
    the 'restore rolls schema back along with data' contract)."""
    from cdc_connector_spark.changelog.ddl import WidenColumn

    path = str(tmp_path / "t")
    # checkpoint_interval=1 makes every commit (incl. the restore) write a
    # checkpoint, so the replay-from-checkpoint path is exercised too
    sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4, checkpoint_interval=1)
    sink.overwrite(
        spark.createDataFrame([(1, 10)], "id long, qty int")
    )  # v0: qty is int
    sink.ddl([WidenColumn("qty", "bigint")])  # v1, metadata-only widen
    assert dict(sink.read().dtypes)["qty"] == "bigint"
    sink.restore(0)
    assert dict(sink.read().dtypes)["qty"] == "int"
    assert {r["id"]: r["qty"] for r in sink.read().collect()} == {1: 10}
    # the rolled-back map survives the checkpoint + fresh-object replay
    reopened = TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    assert dict(reopened.read().dtypes)["qty"] == "int"


def test_vacuum_skips_files_resurrected_by_restore(spark, tmp_path):
    """TOCTOU guard (r11 review): a restore re-adds files that a vacuum —
    working from a snapshot taken before the restore — still considers
    removed-beyond-horizon. vacuum must re-check liveness against the
    fresh head and skip them, or the restored head references physically
    deleted files. Sequenced deterministically here: restore first, then
    a vacuum whose candidate set (removed_at <= horizon) includes the
    resurrected files."""
    path = str(tmp_path / "t")
    sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4, checkpoint_interval=100)
    df_a = spark.createDataFrame([(1, "a"), (2, "a")], ROW_SCHEMA)
    df_b = spark.createDataFrame([(1, "b"), (2, "b")], ROW_SCHEMA)
    sink.overwrite(df_a)          # v0: A files live
    sink.overwrite(df_b)          # v1: A removed at v1, B live
    sink.restore(0)               # v2: A re-added, B removed at v2
    # horizon = 2 - 0 = 2 >= both removal versions -> both are candidates;
    # only B may actually be deleted (A is live again in the head)
    deleted = sink.vacuum(retain_versions=0)
    assert deleted > 0            # B's files really went
    rows = {r["id"]: r["val"] for r in sink.read().collect()}
    assert rows == {1: "a", 2: "a"}  # the restored head still reads


def _race(monkeypatch, loser, winner_commit):
    """Make ``loser`` lose one commit race: ``winner_commit`` runs between
    the loser's first snapshot and its first publish. Returns a dict whose
    ``writes`` counts the loser's ``_write_files`` calls across the race."""
    calls = {"writes": 0}
    orig_write = loser._write_files

    def counting_write(*a, **k):
        calls["writes"] += 1
        return orig_write(*a, **k)

    monkeypatch.setattr(loser, "_write_files", counting_write)
    orig_try = loser._try_commit
    state = {"raced": False}

    def racing_try(version, actions):
        if not state["raced"]:
            state["raced"] = True
            winner_commit()
        return orig_try(version, actions)

    monkeypatch.setattr(loser, "_try_commit", racing_try)
    return calls


def test_concurrent_bootstrap_append_keeps_both_batches(spark, tmp_path, monkeypatch):
    """Bootstrap race (r11 review): two first-writers race to create the
    table. The loser previously routed through overwrite(), whose
    conflict retry removes ALL live files — silently discarding the
    winner's committed batch. The loser's version-0 attempt must lose
    cleanly and land as a plain append on the winner's table."""
    path = str(tmp_path / "t")
    df_a = spark.createDataFrame([(1, "a"), (2, "a")], ROW_SCHEMA)
    df_b = spark.createDataFrame([(3, "b"), (4, "b")], ROW_SCHEMA)
    winner = TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    loser = TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    # both constructed against the EMPTY table; the winner's version 0
    # lands between the loser's snapshot and its publish
    _race(monkeypatch, loser, lambda: winner.append(df_a))
    loser.append(df_b)
    rows = {r["id"]: r["val"] for r in TxLogMergeSink(spark, path).read().collect()}
    assert rows == {1: "a", 2: "a", 3: "b", 4: "b"}  # NO lost batch


def _keys_by_bucket(spark, sink, n=64):
    """ids 1..n grouped by the sink's bucket."""
    out: dict[int, list[int]] = {}
    for r in spark.range(1, n + 1).select("id", sink._bucket_expr().alias("b")).collect():
        out.setdefault(r["b"], []).append(r["id"])
    return out


@pytest.mark.parametrize(
    "case",
    [
        "overwrite",
        "append",
        "apply_delta",
        "apply_disjoint",
        "apply_overlap",
        "compact",
        "append_after_rename",
    ],
)
def test_conflict_retry_restages_only_when_inputs_change(spark, tmp_path, monkeypatch, case):
    """A lost commit race re-derives only the ACTIONS against the fresh
    snapshot; data files are staged again only when the race invalidated
    them. Stage-once (r12, the r11 review's deferred lead): an overwrite
    that loses a metadata race must not rewrite its O(table) snapshot.

    - ``overwrite``/``append``/``apply_delta``: the files depend on the
      snapshot only through the column mapping, so one write;
    - ``apply`` whose buckets are disjoint from the winner's: its merge
      inputs are unchanged, so one write; overlapping buckets: the merge
      re-runs (two writes) and neither update is lost;
    - ``compact``: any conflict may have rewritten its inputs, two writes;
    - a concurrent rename changes the column mapping, so the staged files
      carry stale physical names: ``append`` writes twice."""
    from cdc_connector_spark.changelog.ddl import RenameColumn

    path = str(tmp_path / "t")
    base = TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    groups = _keys_by_bucket(spark, base)
    b0, b1 = sorted(groups)[:2]
    a, a2, b = groups[b0][0], groups[b0][1], groups[b1][0]  # a, a2 share a bucket
    base.overwrite(spark.createDataFrame([(a, "base"), (a2, "base"), (b, "base")], ROW_SCHEMA))
    seed = {a: "base", a2: "base", b: "base"}

    winner = TxLogMergeSink(spark, path)
    loser = TxLogMergeSink(spark, path, merge_schema=case == "append_after_rename")

    def rows(*r, schema=ROW_SCHEMA):
        return spark.createDataFrame(list(r), schema)

    def upsert(sink, i, val, ts):
        return lambda: sink.apply(_batch(spark, [(None, {"id": i, "val": val}, "u", ts, ts)]))

    # case -> (winner's commit, loser's op, loser's writes, rows after both)
    cases = {
        "overwrite": (
            lambda: winner.overwrite(rows((2, "winner"))),
            lambda: loser.overwrite(rows((3, "loser"))),
            1, {3: "loser"},  # last overwrite wins, winner's files removed
        ),
        "append": (
            lambda: winner.append(rows((1001, "w"))),
            lambda: loser.append(rows((1002, "l"))),
            1, {**seed, 1001: "w", 1002: "l"},
        ),
        "apply_delta": (
            lambda: winner.apply_delta(_batch(spark, [(None, {"id": a, "val": "w"}, "u", 5, 5)])),
            lambda: loser.apply_delta(_batch(spark, [(None, {"id": b, "val": "l"}, "u", 6, 6)])),
            1, {**seed, a: "w", b: "l"},
        ),
        "apply_disjoint": (
            upsert(winner, a, "w", 5), upsert(loser, b, "l", 6), 1, {**seed, a: "w", b: "l"},
        ),
        "apply_overlap": (
            upsert(winner, a, "w", 5), upsert(loser, a2, "l", 6), 2, {**seed, a: "w", a2: "l"},
        ),
        "compact": (
            lambda: winner.append(rows((1001, "w"))),
            lambda: loser.compact(min_files=1),
            2, {**seed, 1001: "w"},
        ),
        # the loser already writes the post-rename name
        "append_after_rename": (
            lambda: winner.ddl([RenameColumn("val", "note")]),
            lambda: loser.append(rows((1002, "l"), schema="id long, note string")),
            2, {**seed, 1002: "l"},
        ),
    }
    win, lose, writes, expected = cases[case]
    calls = _race(monkeypatch, loser, win)
    lose()
    assert calls["writes"] == writes
    out = TxLogMergeSink(spark, path).read()
    val = "note" if case == "append_after_rename" else "val"
    assert {r["id"]: r[val] for r in out.collect()} == expected
    assert out.columns == ["id", val]
    hist = TxLogMergeSink(spark, path).history()
    assert len(hist) == 3  # base, winner, loser: one commit each


def _committed_files(path):
    """Every data file any commit of the log added."""
    adds = set()
    for commit in glob.glob(os.path.join(path, "_log", "[0-9]*.json")):
        with open(commit) as f:
            adds |= {a["add"]["path"] for a in map(json.loads, f) if "add" in a}
    return sorted(os.path.join(path, p) for p in adds)


@pytest.mark.parametrize("op", ["overwrite", "apply", "append", "apply_delta", "compact"])
def test_lost_commit_races_leave_no_staged_files(spark, tmp_path, monkeypatch, op):
    """A write op that runs out of commit retries raises, and discards
    every data file it staged: the parquet files on disk are exactly the
    ones the log added."""
    path = str(tmp_path / "t")
    sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4, max_commit_retries=2)
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    sink.append(spark.createDataFrame([(3, "c")], ROW_SCHEMA))  # work for compact

    def always_lose(version, actions):
        raise CommitConflict(version)

    monkeypatch.setattr(sink, "_try_commit", always_lose)
    batch = _batch(spark, [(None, {"id": 1, "val": "a2"}, "u", 5, 5)])
    ops = {
        "overwrite": lambda: sink.overwrite(spark.createDataFrame([(9, "z")], ROW_SCHEMA)),
        "apply": lambda: sink.apply(batch),
        "append": lambda: sink.append(spark.createDataFrame([(9, "z")], ROW_SCHEMA)),
        "apply_delta": lambda: sink.apply_delta(batch),
        "compact": lambda: sink.compact(min_files=1),
    }
    with pytest.raises(RuntimeError, match="lost 2 commit races"):
        ops[op]()
    assert _data_files(path) == _committed_files(path)


def test_vacuum_detects_restore_committed_mid_unlink(spark, tmp_path, monkeypatch):
    """TOCTOU remainder (r12, ADVICE): a restore that commits AFTER
    vacuum's pre-unlink re-snapshot but BEFORE the unlink loop finishes
    passes its own post-commit existence check (the files are still on
    disk at that instant), then vacuum deletes them — the new head would
    silently reference missing files. vacuum's post-loop re-snapshot must
    catch exactly this interleaving and raise with the recovery path."""
    import cdc_connector_spark.changelog.txlog as txlog_mod

    path = str(tmp_path / "t")
    sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4, checkpoint_interval=100)
    df_a = spark.createDataFrame([(1, "a"), (2, "a")], ROW_SCHEMA)
    df_b = spark.createDataFrame([(1, "b"), (2, "b")], ROW_SCHEMA)
    sink.overwrite(df_a)  # v0: A files live
    sink.overwrite(df_b)  # v1: A removed at v1, B live

    restorer = TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    real_unlink = os.unlink
    fired = {"done": False}

    def racing_unlink(p, *a, **kw):
        # first data-file unlink: a concurrent restore(0) commits first
        # (its post-commit check passes — the file still exists), THEN
        # the unlink lands, tearing the restored head.
        if not fired["done"] and p.endswith(".parquet"):
            fired["done"] = True
            restorer.restore(0)  # v2: resurrects the A files
        return real_unlink(p, *a, **kw)

    monkeypatch.setattr(txlog_mod.os, "unlink", racing_unlink)
    with pytest.raises(RuntimeError, match="raced a concurrent restore"):
        sink.vacuum(retain_versions=0)
    assert fired["done"]
    monkeypatch.undo()
    # recovery path from the error message: back to the pre-restore head
    sink.restore(2 - 1)
    rows = {r["id"]: r["val"] for r in TxLogMergeSink(spark, path).read().collect()}
    assert rows == {1: "b", 2: "b"}  # v1's files are intact and readable

"""TxLogMergeSink: transaction-log commits, OCC, time travel, vacuum.

Covers the lakehouse-format properties: commits cost O(touched files),
concurrent writers converge without a lock, any retained version is
readable, and vacuum honors the retention window.
"""

import json
import os
import threading
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_connector_spark.changelog.envelope import envelope_schema, flatten_envelope
from cdc_connector_spark.changelog.txlog import TxLogMergeSink

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
)


def _env_df(spark, rows):
    data = [(b, a, op, ts, "db", "t", seq) for (b, a, op, ts, seq) in rows]
    return spark.createDataFrame(data, envelope_schema(ROW_SCHEMA))


def _batch(spark, rows):
    return flatten_envelope(_env_df(spark, rows), key_cols=["id"])


def test_bootstrap_apply_merge_semantics(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    assert sink.read() is None and not sink.exists()
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    assert sink.current_version() == 0 and sink.count() == 2

    sink.apply(
        _batch(
            spark,
            [
                ({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 10, 1),
                ({"id": 2, "val": "b"}, None, "d", 11, 2),
                (None, {"id": 3, "val": "c"}, "c", 12, 3),
            ],
        )
    )
    assert sink.current_version() == 1
    assert {r["id"]: r["val"] for r in sink.read().collect()} == {1: "a2", 3: "c"}


def test_apply_bootstraps_empty_table(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"])
    sink.apply(_batch(spark, [(None, {"id": 7, "val": "x"}, "c", 1, 1)]))
    assert {r["id"] for r in sink.read().collect()} == {7}


def test_commit_touches_only_affected_buckets(spark, tmp_path):
    """The scale property: a small batch's commit contains adds/removes for
    touched buckets only — untouched files are carried by the LOG, with zero
    per-file work (no links, no listdir of the table)."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=16)
    sink.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(200)], ROW_SCHEMA)
    )
    files_before = set(sink._snapshot().files)
    sink.apply(_batch(spark, [(None, {"id": 1, "val": "new"}, "u", 5, 5)]))

    with open(sink._commit_file(1)) as f:
        actions = [json.loads(line) for line in f]
    add_buckets = {a["add"]["bucket"] for a in actions if "add" in a}
    rem_buckets = {a["remove"]["bucket"] for a in actions if "remove" in a}
    assert len(add_buckets) == 1 and add_buckets == rem_buckets
    # untouched physical files are bit-identical members of the new snapshot
    files_after = set(sink._snapshot().files)
    carried = files_before & files_after
    assert len(carried) >= len(files_before) - 2  # only the touched bucket left
    # and no hard links were made anywhere (nlink stays 1)
    for rel in carried:
        assert os.stat(os.path.join(sink.path, rel)).st_nlink == 1


def test_reopen_recovers_table_properties(spark, tmp_path):
    path = str(tmp_path / "t")
    TxLogMergeSink(spark, path, ["id"], num_buckets=8).overwrite(
        spark.createDataFrame([(1, "a")], ROW_SCHEMA)
    )
    reopened = TxLogMergeSink(spark, path)  # no key_cols: from the log
    assert reopened.key_cols == ["id"] and reopened.num_buckets == 8
    with pytest.raises(ValueError, match="num_buckets"):
        TxLogMergeSink(spark, path, ["id"], num_buckets=4)
    with pytest.raises(ValueError, match="key_cols"):
        TxLogMergeSink(spark, path, ["val"])


def test_reopen_missing_table_creates_nothing(spark, tmp_path):
    """Reopening by path (no key_cols) where no table exists must raise
    before touching the filesystem, not leave an empty skeleton behind."""
    path = tmp_path / "missing"
    with pytest.raises(ValueError, match="key_cols required"):
        TxLogMergeSink(spark, str(path))
    assert not path.exists()
    # an existing empty directory is not a table either, and stays empty
    path.mkdir()
    with pytest.raises(ValueError, match="key_cols required"):
        TxLogMergeSink(spark, str(path))
    assert os.listdir(path) == []


def test_time_travel_and_history(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"])
    sink.overwrite(spark.createDataFrame([(1, "v0")], ROW_SCHEMA))
    sink.apply(_batch(spark, [(None, {"id": 1, "val": "v1"}, "u", 1, 1)]))
    sink.apply(_batch(spark, [(None, {"id": 1, "val": "v2"}, "u", 2, 2)]))

    assert [r["val"] for r in sink.read(version=0).collect()] == ["v0"]
    assert [r["val"] for r in sink.read(version=1).collect()] == ["v1"]
    assert [r["val"] for r in sink.read().collect()] == ["v2"]
    with pytest.raises(ValueError, match="does not exist"):
        sink.read(version=9)

    hist = sink.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[0]["operation"] == "OVERWRITE"
    assert hist[1]["operation"] == "MERGE"
    # the commit loop records its attempts and staging time on every commit
    assert all(h["attempts"] == 1 and h["stage_ms"] > 0 for h in hist)


def test_concurrent_writers_converge_without_lock(spark, tmp_path):
    """Two threads apply disjoint-key batches concurrently; OCC must land
    both (one rebases or recomputes after losing the version race)."""
    sink_path = str(tmp_path / "t")
    TxLogMergeSink(spark, sink_path, ["id"], num_buckets=8).overwrite(
        spark.createDataFrame([(i, "base") for i in range(20)], ROW_SCHEMA)
    )
    errs = []

    def worker(ids):
        try:
            s = TxLogMergeSink(spark, sink_path)
            s.apply(
                _batch(
                    spark,
                    [(None, {"id": i, "val": f"w{i}"}, "u", 100, i) for i in ids],
                )
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=worker, args=([0, 1, 2],))
    t2 = threading.Thread(target=worker, args=([10, 11, 12],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    sink = TxLogMergeSink(spark, sink_path)
    assert sink.current_version() == 2  # overwrite=v0 + two commits, no clobber
    rows = {r["id"]: r["val"] for r in sink.read().collect()}
    for i in (0, 1, 2, 10, 11, 12):
        assert rows[i] == f"w{i}"
    assert sum(1 for v in rows.values() if v == "base") == 14


def test_replay_idempotent_exactly_once_effect(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"])
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    batch = _batch(
        spark,
        [
            (None, {"id": 1, "val": "a2"}, "u", 10, 1),
            ({"id": 2, "val": "b"}, None, "d", 11, 2),
        ],
    )
    sink.apply(batch)
    state1 = sorted(sink.read().collect())
    sink.apply(batch)  # at-least-once redelivery
    assert sorted(sink.read().collect()) == state1


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    sink = TxLogMergeSink(
        spark, str(tmp_path / "t"), ["id"], num_buckets=2, checkpoint_interval=3
    )
    sink.overwrite(spark.createDataFrame([(1, "v0")], ROW_SCHEMA))
    for i in range(1, 8):
        sink.apply(_batch(spark, [(None, {"id": 1, "val": f"v{i}"}, "u", i, i)]))
    cps = [f for f in os.listdir(sink.log_dir) if f.startswith("_checkpoint.")]
    assert len(cps) >= 2  # at versions 3 and 6
    assert sink._last_checkpoint() == 6
    # a fresh instance resolves state through the checkpoint path
    fresh = TxLogMergeSink(spark, str(tmp_path / "t"))
    assert [r["val"] for r in fresh.read().collect()] == ["v7"]
    # deep time travel (pre-checkpoint) still replays from genesis
    assert [r["val"] for r in fresh.read(version=1).collect()] == ["v1"]


def test_vacuum_respects_retention(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, "v0")], ROW_SCHEMA))
    for i in range(1, 4):
        sink.apply(_batch(spark, [(None, {"id": 1, "val": f"v{i}"}, "u", i, i)]))
    deleted = sink.vacuum(retain_versions=2)
    assert deleted > 0
    # recent versions remain readable; vacuumed ones fail on missing files
    assert [r["val"] for r in sink.read(version=2).collect()] == ["v2"]
    assert [r["val"] for r in sink.read().collect()] == ["v3"]
    with pytest.raises(Exception):  # noqa: B017 — files physically gone
        sink.read(version=0).collect()


def test_schema_guard_and_evolution(spark, tmp_path):
    wide = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("extra", T.LongType()),
        ]
    )
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"])
    sink.overwrite(spark.createDataFrame([(1, "a")], ROW_SCHEMA))
    widening = (
        spark.createDataFrame([(2, "b", 9)], wide)
        .withColumn("__op", F.lit("c"))
        .withColumn("__ts_ms", F.lit(1).cast("long"))
        .withColumn("__seq", F.lit(1).cast("long"))
    )
    with pytest.raises(ValueError, match="merge_schema"):
        sink.apply(widening)
    evolving = TxLogMergeSink(spark, str(tmp_path / "t"), merge_schema=True)
    evolving.apply(widening)
    rows = {r["id"]: r for r in evolving.read().collect()}
    assert rows[2]["extra"] == 9 and rows[1]["extra"] is None
    # the widened column is recorded in the log's table schema
    assert "extra" in evolving._snapshot().columns


def test_changelog_stream_merge_on_read_mode(spark, tmp_path):
    """Streaming MOR: micro-batches land as delta commits (write = O(batch))
    and the stream still converges to merge semantics on read."""
    from cdc_connector_spark.streaming.pipeline import ChangelogStream

    src = tmp_path / "stream_in"
    src.mkdir()
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"])
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    _env_df(
        spark,
        [
            ({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 200, 3),
            ({"id": 2, "val": "b"}, None, "d", 300, 4),
            (None, {"id": 3, "val": "c"}, "c", 300, 5),
        ],
    ).coalesce(1).write.mode("append").parquet(str(src))
    ChangelogStream(
        spark,
        source_dir=str(src),
        sink=sink,
        row_schema=ROW_SCHEMA,
        key_cols=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        merge_on_read=True,
    ).run_until_caught_up()
    assert {r["id"]: r["val"] for r in sink.read().collect()} == {1: "a2", 3: "c"}
    assert sink._snapshot().deltas  # batches landed as deltas, not rewrites
    # a duck-typed sink without apply_delta refuses the flag instead of
    # silently degrading
    cow_only = SimpleNamespace(path=str(tmp_path / "cow"), apply=lambda df: None)
    with pytest.raises(ValueError, match="apply_delta"):
        ChangelogStream(
            spark,
            source_dir=str(src),
            sink=cow_only,
            row_schema=ROW_SCHEMA,
            key_cols=["id"],
            checkpoint_dir=str(tmp_path / "ckpt2"),
            merge_on_read=True,
        )


def test_changelog_stream_over_txlog_sink(spark, tmp_path):
    """The streaming pipeline is sink-agnostic: the same foreachBatch MERGE
    path lands in the transaction-log table."""
    from cdc_connector_spark.streaming.pipeline import ChangelogStream

    src = tmp_path / "stream_in"
    src.mkdir()
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"])
    _env_df(
        spark,
        [
            (None, {"id": 1, "val": "a"}, "c", 100, 1),
            (None, {"id": 2, "val": "b"}, "c", 100, 2),
            ({"id": 1, "val": "a"}, {"id": 1, "val": "a2"}, "u", 200, 3),
            ({"id": 2, "val": "b"}, None, "d", 300, 4),
        ],
    ).coalesce(1).write.mode("append").parquet(str(src))
    ChangelogStream(
        spark,
        source_dir=str(src),
        sink=sink,
        row_schema=ROW_SCHEMA,
        key_cols=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).run_until_caught_up()
    assert {r["id"]: r["val"] for r in sink.read().collect()} == {1: "a2"}


def test_append_adds_without_rewriting(spark, tmp_path):
    """Insert-only fast path: existing files stay physically untouched
    (same paths in the snapshot), only new files join the table."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    files_v0 = set(sink._snapshot().files)
    sink.append(spark.createDataFrame([(3, "c"), (4, "d")], ROW_SCHEMA))
    snap = sink._snapshot()
    assert files_v0 <= set(snap.files)  # zero write amplification
    assert {r["id"] for r in sink.read().collect()} == {1, 2, 3, 4}
    assert sink.history()[-1]["operation"] == "APPEND"
    # append to an empty table bootstraps
    s2 = TxLogMergeSink(spark, str(tmp_path / "t2"), ["id"])
    s2.append(spark.createDataFrame([(9, "z")], ROW_SCHEMA))
    assert s2.count() == 1


def test_compact_merges_small_files_preserving_data(spark, tmp_path):
    """OPTIMIZE analogue: repeated small merges fragment buckets into many
    files; compact() rewrites fragmented buckets to one file each via a
    normal log commit — same data, same history, fewer files."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(i, "base") for i in range(10)], ROW_SCHEMA))
    for i in range(5):  # insert-only fast path: adds files, rewrites nothing
        sink.append(spark.createDataFrame([(100 + i, f"n{i}")], ROW_SCHEMA))
    before = sorted(sink.read().collect())
    snap = sink._snapshot()
    files_per_bucket: dict[int, int] = {}
    for b in snap.files.values():
        files_per_bucket[b] = files_per_bucket.get(b, 0) + 1
    assert max(files_per_bucket.values()) >= 4  # genuinely fragmented

    n = sink.compact(min_files=4)
    assert n >= 1
    after_snap = sink._snapshot()
    per_bucket: dict[int, int] = {}
    for b in after_snap.files.values():
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) < 4  # compacted buckets now 1 file
    assert sorted(sink.read().collect()) == before  # byte-equal data
    # pre-compaction version still time-travels
    assert len(sink.read(version=snap.version).collect()) == len(before)
    assert sink.history()[-1]["operation"] == "COMPACT"
    # idempotent when nothing is fragmented
    assert sink.compact(min_files=4) == 0


def test_mor_apply_delta_zero_read_amplification(spark, tmp_path):
    """Merge-on-read: a delta apply writes only its own files — every
    pre-existing base file survives untouched — yet read() converges to the
    same state a copy-on-write apply would produce."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ROW_SCHEMA))
    files_v0 = set(sink._snapshot().files)
    sink.apply_delta(
        _batch(
            spark,
            [
                (None, {"id": 1, "val": "a2"}, "u", 10, 1),
                ({"id": 2, "val": "b"}, None, "d", 11, 2),
                (None, {"id": 4, "val": "d"}, "c", 12, 3),
            ],
        )
    )
    snap = sink._snapshot()
    assert set(snap.files) == files_v0  # base untouched: O(batch) write
    assert snap.deltas  # the batch landed as delta files
    assert {r["id"]: r["val"] for r in sink.read().collect()} == {1: "a2", 3: "c", 4: "d"}
    assert sink.history()[-1]["operation"] == "MERGE_DELTA"


def test_mor_layers_honor_ts_seq_ordering(spark, tmp_path):
    """Multiple delta layers: latest (ts, seq) wins across layers, and a
    same-ts tie breaks by seq — the ST3 contract through the MOR path."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, "v0")], ROW_SCHEMA))
    sink.apply_delta(_batch(spark, [(None, {"id": 1, "val": "new"}, "u", 20, 5)]))
    # older event arriving later must NOT win
    sink.apply_delta(_batch(spark, [(None, {"id": 1, "val": "stale"}, "u", 10, 1)]))
    assert [r["val"] for r in sink.read().collect()] == ["new"]
    sink.apply_delta(_batch(spark, [(None, {"id": 1, "val": "tie"}, "u", 20, 6)]))
    assert [r["val"] for r in sink.read().collect()] == ["tie"]


def test_mor_compact_materializes_deltas(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    sink.apply_delta(_batch(spark, [(None, {"id": 1, "val": "a2"}, "u", 5, 5)]))
    before = sorted(sink.read().collect())
    assert sink.compact(min_files=999) == 1  # delta alone forces the bucket
    snap = sink._snapshot()
    assert not snap.deltas  # materialized
    assert sorted(sink.read().collect()) == before
    # reads now hit base files only (no merge window) — and history shows it
    assert sink.history()[-1]["operation"] == "COMPACT"


def test_cow_apply_folds_existing_deltas(spark, tmp_path):
    """A copy-on-write apply on a bucket holding deltas must consume them:
    otherwise an older delta row would overwrite the newer base on read."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, "v0")], ROW_SCHEMA))
    sink.apply_delta(_batch(spark, [(None, {"id": 1, "val": "delta1"}, "u", 10, 1)]))
    sink.apply(_batch(spark, [(None, {"id": 1, "val": "cow2"}, "u", 20, 2)]))
    assert [r["val"] for r in sink.read().collect()] == ["cow2"]
    # the consumed delta files are gone from the snapshot
    assert not sink._snapshot().deltas


def test_scan_prunes_files_by_footer_stats(spark, tmp_path):
    """Data skipping: each append's files carry min/max footer stats in the
    log; a range scan reads only intersecting base files and returns
    exactly what read().filter would."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=1)
    sink.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ROW_SCHEMA))
    for lo in (100, 200, 300):  # three appends with disjoint id ranges
        sink.append(
            spark.createDataFrame([(i, f"v{i}") for i in range(lo, lo + 100)], ROW_SCHEMA)
        )
    n_base = len(sink._snapshot().files)
    pruned, deltas = sink.pruned_files({"id": (250, 260)})
    assert len(pruned) < n_base and not deltas  # skipped non-intersecting files
    got = sorted(r["id"] for r in sink.scan({"id": (250, 260)}).collect())
    want = sorted(
        r["id"] for r in sink.read().filter("id >= 250 and id <= 260").collect()
    )
    assert got == want == list(range(250, 261))
    # open-ended bound
    assert sink.scan({"id": (380, None)}).count() == 20


def test_scan_with_mor_delta_is_exact(spark, tmp_path):
    """Pruning must not lose MOR updates: a delta moves a key INTO the
    scanned range while its base row lives in a pruned file."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=1)
    sink.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ROW_SCHEMA))
    sink.append(spark.createDataFrame([(i, f"v{i}") for i in range(500, 600)], ROW_SCHEMA))
    # delta updates id=5 (first file's range) — and deletes id=550
    sink.apply_delta(
        _batch(
            spark,
            [
                (None, {"id": 5, "val": "updated"}, "u", 10, 1),
                ({"id": 550, "val": "v550"}, None, "d", 11, 2),
            ],
        )
    )
    rows = {r["id"]: r["val"] for r in sink.scan({"id": (500, 599)}).collect()}
    assert 550 not in rows and len(rows) == 99  # delete honored through scan
    rows2 = {r["id"]: r["val"] for r in sink.scan({"id": (0, 10)}).collect()}
    assert rows2[5] == "updated"  # delta layer folded in


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check: random interleavings of overwrite / apply /
    apply_delta / append / compact / vacuum must always read back exactly
    the state of a dict model applying the same logical operations.
    Deterministic seeds keep runtime bounded and failures reproducible."""
    import random

    for seed in range(4):
        rng = random.Random(seed)
        path = str(tmp_path / f"m{seed}")
        sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4, checkpoint_interval=3)
        model: dict[int, str] = {}
        ts = 0
        sink.overwrite(spark.createDataFrame([(i, "init") for i in range(8)], ROW_SCHEMA))
        model = {i: "init" for i in range(8)}
        for step in range(6):
            op = rng.choice(["apply", "apply_delta", "append", "compact", "vacuum"])
            if op in ("apply", "apply_delta"):
                events = []
                for _ in range(rng.randint(1, 4)):
                    key = rng.randint(0, 11)
                    ts += 1
                    if rng.random() < 0.25:
                        events.append(({"id": key, "val": "x"}, None, "d", ts, ts))
                        model.pop(key, None)
                    else:
                        val = f"v{ts}"
                        events.append((None, {"id": key, "val": val}, "u", ts, ts))
                        model[key] = val
                getattr(sink, op)(_batch(spark, events))
            elif op == "append":
                key = 100 + step + seed * 10  # fresh key: append is insert-only
                sink.append(spark.createDataFrame([(key, "app")], ROW_SCHEMA))
                model[key] = "app"
            elif op == "compact":
                sink.compact(min_files=2)
            else:
                sink.vacuum(retain_versions=2)
        got = {r["id"]: r["val"] for r in sink.read().collect()}
        assert got == model, f"seed {seed} diverged"
        # reopened instance resolves the identical state from the log alone
        got2 = {r["id"]: r["val"] for r in TxLogMergeSink(spark, path).read().collect()}
        assert got2 == model


def test_delete_only_batch_commits_no_adds(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    sink.apply(_batch(spark, [({"id": 1, "val": "a"}, None, "d", 5, 5)]))
    assert {r["id"] for r in sink.read().collect()} == {2}


# -- metadata-only DDL (column mapping) --------------------------------------


def _data_inventory(table_root):
    """(path -> (size, mtime_ns)) for every data file — pins that a commit
    touched ZERO data files, not just that the same paths exist."""
    out = {}
    data = os.path.join(table_root, "data")
    for dirpath, _, files in os.walk(data):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, table_root)] = (st.st_size, st.st_mtime_ns)
    return out


def _ddl_ops():
    from cdc_connector_spark.changelog.ddl import DropColumn, RenameColumn

    return [RenameColumn("val", "label"), DropColumn("score")]


def _three_col_sink(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    sink.overwrite(
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)],
            "id long, val string, score double",
        )
    )
    return sink


def test_metadata_ddl_touches_zero_data_files(spark, tmp_path):
    """Verdict r5 #2 done-criterion: rename+drop on a populated txlog table
    is ONE metadata commit — the data-file inventory (paths, sizes, mtimes)
    is byte-identical — and reads back under the new logical schema."""
    sink = _three_col_sink(spark, tmp_path)
    v0 = sink.current_version()
    before = _data_inventory(sink.path)
    assert before  # populated table

    sink.ddl(_ddl_ops())

    assert _data_inventory(sink.path) == before  # zero files added/removed/rewritten
    assert sink.current_version() == v0 + 1  # exactly one commit
    got = sink.read()
    assert set(got.columns) == {"id", "label"}
    assert {r["id"]: r["label"] for r in got.collect()} == {1: "a", 2: "b", 3: "c"}
    hist = sink.history()
    assert hist[-1]["operation"] == "DDL"
    assert hist[-1]["adds"] == 0 and hist[-1]["removes"] == 0


def test_metadata_ddl_post_ddl_merge_and_late_batch(spark, tmp_path):
    """After the metadata DDL, a post-DDL batch (new name) merges, and a
    late pre-DDL batch (old name) lands via normalize_batch — the streaming
    contract test_ddl_evolution pins, now on the mapped table."""
    from cdc_connector_spark.changelog.ddl import normalize_batch

    sink = _three_col_sink(spark, tmp_path)
    ops = _ddl_ops()
    sink.ddl(ops)

    post = (
        spark.createDataFrame([(4, "d")], "id long, label string")
        .withColumn("__op", F.lit("c"))
        .withColumn("__ts_ms", F.lit(10).cast("long"))
        .withColumn("__seq", F.lit(1).cast("long"))
    )
    sink.apply(post)
    late = (
        spark.createDataFrame([(1, "a2", 9.9)], "id long, val string, score double")
        .withColumn("__op", F.lit("u"))
        .withColumn("__ts_ms", F.lit(11).cast("long"))
        .withColumn("__seq", F.lit(2).cast("long"))
    )
    sink.apply(normalize_batch(late, ops))
    got = {r["id"]: r["label"] for r in sink.read().collect()}
    assert got == {1: "a2", 2: "b", 3: "c", 4: "d"}
    assert set(sink.read().columns) == {"id", "label"}


def test_metadata_ddl_time_travel_keeps_old_names(spark, tmp_path):
    """Time travel to a pre-DDL version replays the pre-DDL mapping: old
    reads keep old names and the dropped column's values."""
    sink = _three_col_sink(spark, tmp_path)
    v0 = sink.current_version()
    sink.ddl(_ddl_ops())
    old = sink.read(version=v0)
    assert set(old.columns) == {"id", "val", "score"}
    assert {r["id"]: r["score"] for r in old.collect()} == {1: 1.5, 2: 2.5, 3: 3.5}


def test_metadata_ddl_no_resurrection_on_readd(spark, tmp_path):
    """Re-adding a dropped column's name is a FRESH column: the tombstoned
    physical values never resurface (old rows read NULL)."""
    sink = _three_col_sink(spark, tmp_path)
    sink.ddl(_ddl_ops())
    readd = (
        spark.createDataFrame([(4, "d", 42.0)], "id long, label string, score double")
        .withColumn("__op", F.lit("c"))
        .withColumn("__ts_ms", F.lit(10).cast("long"))
        .withColumn("__seq", F.lit(1).cast("long"))
    )
    evolving = TxLogMergeSink(spark, str(tmp_path / "t"), merge_schema=True)
    evolving.apply(readd)
    rows = {r["id"]: r["score"] for r in evolving.read().collect()}
    assert rows[4] == 42.0
    assert rows[1] is None and rows[2] is None and rows[3] is None
    # the fresh column maps to a DIFFERENT physical name than the tombstone
    snap = evolving._snapshot()
    assert snap.mapping["score"] in set(snap.mapping.values())
    assert snap.mapping["score"] not in snap.tombstones
    assert "score" in snap.tombstones  # original physical is tombstoned


def test_metadata_ddl_idempotent_replay_no_new_commit(spark, tmp_path):
    """Replaying an already-applied rename/drop sequence commits nothing."""
    sink = _three_col_sink(spark, tmp_path)
    ops = _ddl_ops()
    sink.ddl(ops)
    v = sink.current_version()
    sink.ddl(ops)  # full replay: no-op, no commit
    assert sink.current_version() == v
    assert set(sink.read().columns) == {"id", "label"}


def test_metadata_ddl_widen_in_sequence(spark, tmp_path):
    """[rename, widen-of-new-name, drop]: all three ops are metadata-only —
    the widen commits no data files (cast-on-read, see
    test_metadata_widen_touches_zero_data_files) — and validation runs
    against the evolving schema (the ADVICE r5 narrowing guard)."""
    from cdc_connector_spark.changelog.ddl import (
        DropColumn,
        RenameColumn,
        WidenColumn,
    )

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    sink.overwrite(
        spark.createDataFrame([(1, 10, 1.5), (2, 20, 2.5)], "id long, qty int, score double")
    )
    sink.ddl(
        [RenameColumn("qty", "quantity"), WidenColumn("quantity", "bigint"), DropColumn("score")]
    )
    got = sink.read()
    assert set(got.columns) == {"id", "quantity"}
    assert dict(got.dtypes)["quantity"] == "bigint"
    assert {r["id"]: r["quantity"] for r in got.collect()} == {1: 10, 2: 20}
    # narrowing through a rename is rejected up front, before any commit
    with pytest.raises(ValueError, match="not a lossless widening"):
        sink.ddl([RenameColumn("quantity", "q2"), WidenColumn("q2", "int")])


def test_metadata_ddl_scan_stats_survive_rename(spark, tmp_path):
    """Footer stats are keyed by PHYSICAL name; after a rename, data
    skipping on the logical name still prunes (predicates are translated
    through the mapping)."""
    from cdc_connector_spark.changelog.ddl import RenameColumn

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(
        spark.createDataFrame([(i, i * 10) for i in range(1, 9)], "id long, qty long")
    )
    sink.ddl([RenameColumn("qty", "quantity")])
    base_all, _ = sink.pruned_files({})
    base_pruned, _ = sink.pruned_files({"quantity": (1000, None)})
    assert len(base_pruned) < len(base_all)  # stats pruning still effective
    got = sink.scan({"quantity": (50, None)})
    assert {r["quantity"] for r in got.collect()} == {50, 60, 70, 80}


def test_metadata_ddl_mor_delta_after_rename(spark, tmp_path):
    """apply_delta after a rename: delta files land under the physical name
    and the MOR read resolves them under the logical name."""
    from cdc_connector_spark.changelog.ddl import RenameColumn

    sink = _three_col_sink(spark, tmp_path)
    sink.ddl([RenameColumn("val", "label")])
    delta = (
        spark.createDataFrame([(2, "b2", 0.0)], "id long, label string, score double")
        .withColumn("__op", F.lit("u"))
        .withColumn("__ts_ms", F.lit(10).cast("long"))
        .withColumn("__seq", F.lit(1).cast("long"))
    )
    sink.apply_delta(delta.drop("score"))
    got = {r["id"]: r["label"] for r in sink.read().collect()}
    assert got[2] == "b2" and got[1] == "a"
    # compaction materializes the delta and the logical view is unchanged
    sink.compact(min_files=1)
    got2 = {r["id"]: r["label"] for r in sink.read().collect()}
    assert got2 == got


# -- OPTIMIZE ZORDER BY (z-order-aware compaction) ---------------------------


def test_compact_zorder_tightens_file_skipping(spark, tmp_path):
    """compact(zorder_by=...) rewrites each bucket into z-ordered segments:
    data is unchanged, and a range predicate on the clustered column prunes
    files WITHIN buckets via the footer stats the log records — Delta's
    OPTIMIZE ZORDER BY, driven through the txlog scan path."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    rows = [(i, i * 3 % 1000, f"v{i}") for i in range(400)]
    sink.overwrite(spark.createDataFrame(rows, "id long, metric long, val string"))
    before = sink.read().orderBy("id").collect()

    n = sink.compact(zorder_by=["metric"], files_per_bucket=4)
    assert n > 0
    after = sink.read().orderBy("id").collect()
    assert after == before  # byte-equal semantics

    base_all, _ = sink.pruned_files({})
    base_pruned, _ = sink.pruned_files({"metric": (0, 50)})
    # clustered layout: the narrow metric range touches a strict subset
    assert len(base_all) >= 4
    assert len(base_pruned) < len(base_all)
    got = sink.scan({"metric": (0, 50)})
    expect = {r["id"] for r in before if 0 <= r["metric"] <= 50}
    assert {r["id"] for r in got.collect()} == expect


def test_compact_zorder_after_rename_uses_logical_name(spark, tmp_path):
    """zorder_by takes LOGICAL names: after a metadata rename the cluster
    column is translated through the mapping to the physical layout."""
    from cdc_connector_spark.changelog.ddl import RenameColumn

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    rows = [(i, i * 7 % 500) for i in range(300)]
    sink.overwrite(spark.createDataFrame(rows, "id long, qty long"))
    sink.ddl([RenameColumn("qty", "quantity")])
    assert sink.compact(zorder_by=["quantity"], files_per_bucket=3) > 0
    base_all, _ = sink.pruned_files({})
    base_pruned, _ = sink.pruned_files({"quantity": (0, 40)})
    assert len(base_pruned) < len(base_all)
    got = {r["id"] for r in sink.scan({"quantity": (0, 40)}).collect()}
    assert got == {i for i in range(300) if i * 7 % 500 <= 40}


def test_metadata_widen_touches_zero_data_files(spark, tmp_path):
    """Verdict r6 #3 done-criterion: WidenColumn on a populated txlog table
    is ONE metadata commit — the data-file inventory is byte-identical —
    and reads back the widened type (int files upcast at scan via the
    explicit read schema)."""
    from cdc_connector_spark.changelog.ddl import WidenColumn

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    sink.overwrite(
        spark.createDataFrame(
            [(1, 10, 1.5), (2, 20, 2.5), (3, 30, 3.5)],
            "id long, n int, score float",
        )
    )
    v0 = sink.current_version()
    before = _data_inventory(sink.path)
    assert before

    sink.ddl([WidenColumn("n", "bigint"), WidenColumn("score", "double")])

    assert _data_inventory(sink.path) == before  # zero files touched
    assert sink.current_version() == v0 + 1  # exactly one commit
    got = sink.read()
    types = dict((f.name, f.dataType.simpleString()) for f in got.schema.fields)
    assert types["n"] == "bigint" and types["score"] == "double"
    assert {r["id"]: (r["n"], r["score"]) for r in got.collect()} == {
        1: (10, 1.5), 2: (20, 2.5), 3: (30, 3.5)
    }
    hist = sink.history()
    assert hist[-1]["operation"] == "DDL"
    assert hist[-1]["adds"] == 0 and hist[-1]["removes"] == 0
    # time travel to the pre-widen version reads the ORIGINAL narrow type
    old = sink.read(version=v0)
    old_types = dict((f.name, f.dataType.simpleString()) for f in old.schema.fields)
    assert old_types["n"] == "int" and old_types["score"] == "float"


def test_widen_mixed_narrow_wide_files_merge(spark, tmp_path):
    """After a metadata widen, narrow pre-widen files and wide post-widen
    files coexist; reads, merges, and values stay exact across the mix,
    and compaction migrates files to the wide type."""
    from cdc_connector_spark.changelog.ddl import WidenColumn

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "id long, n int"))
    sink.ddl([WidenColumn("n", "bigint")])

    big = 5_000_000_000  # needs the widened width
    batch = (
        spark.createDataFrame([(3, big), (1, 11)], "id long, n long")
        .withColumn("__op", F.lit("c"))
        .withColumn("__ts_ms", F.lit(10).cast("long"))
        .withColumn("__seq", F.lit(1).cast("long"))
    )
    sink.apply(batch)
    got = {r["id"]: r["n"] for r in sink.read().collect()}
    assert got == {1: 11, 2: 20, 3: big}
    # a LATE batch still carrying the narrow type also lands cleanly
    late = (
        spark.createDataFrame([(4, 40)], "id long, n int")
        .withColumn("__op", F.lit("c"))
        .withColumn("__ts_ms", F.lit(11).cast("long"))
        .withColumn("__seq", F.lit(2).cast("long"))
    )
    sink.apply(late.withColumn("n", F.col("n").cast("bigint")))
    assert {r["id"]: r["n"] for r in sink.read().collect()} == {
        1: 11, 2: 20, 3: big, 4: 40
    }
    # compaction migrates surviving files to the widened physical type
    sink.compact(min_files=1)
    import pyarrow.parquet as pq

    snap = sink._snapshot()
    for rel in snap.files:
        sch = pq.read_schema(os.path.join(sink.path, rel))
        assert str(sch.field("n").type) == "int64", rel
    assert {r["id"]: r["n"] for r in sink.read().collect()} == {
        1: 11, 2: 20, 3: big, 4: 40
    }


def test_widen_key_column_rejected(spark, tmp_path):
    from cdc_connector_spark.changelog.ddl import WidenColumn

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, 10)], "id int, n int"))
    with pytest.raises(ValueError, match="key column"):
        sink.ddl([WidenColumn("id", "bigint")])


def test_widen_survives_checkpoint_and_replay(spark, tmp_path):
    """The widened-type map persists through checkpoints and reopen —
    a fresh sink instance reads the wide type with no in-memory state."""
    from cdc_connector_spark.changelog.ddl import WidenColumn

    sink = TxLogMergeSink(
        spark, str(tmp_path / "t"), ["id"], num_buckets=2, checkpoint_interval=2
    )
    sink.overwrite(spark.createDataFrame([(1, 10)], "id long, n int"))
    sink.ddl([WidenColumn("n", "bigint")])  # v1 -> checkpoint at interval 2
    for i in range(3):  # push past a checkpoint boundary
        b = (
            spark.createDataFrame([(i + 10, i)], "id long, n long")
            .withColumn("__op", F.lit("c"))
            .withColumn("__ts_ms", F.lit(20 + i).cast("long"))
            .withColumn("__seq", F.lit(i).cast("long"))
        )
        sink.apply(b)
    reopened = TxLogMergeSink(spark, str(tmp_path / "t"))
    got = reopened.read()
    assert dict((f.name, f.dataType.simpleString()) for f in got.schema.fields)["n"] == "bigint"
    assert {r["id"] for r in got.collect()} == {1, 10, 11, 12}


def test_drop_of_widened_column_keeps_table_readable(spark, tmp_path):
    """Review r7 finding: dropping a widened column must NOT purge its
    widened-type entry — mixed narrow/wide files for the physical still
    exist and the read schema has to keep unifying them."""
    from cdc_connector_spark.changelog.ddl import DropColumn, WidenColumn

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(spark.createDataFrame([(1, 10, "a")], "id long, n int, v string"))
    sink.ddl([WidenColumn("n", "bigint")])
    batch = (
        spark.createDataFrame([(2, 5_000_000_000, "b")], "id long, n long, v string")
        .withColumn("__op", F.lit("c"))
        .withColumn("__ts_ms", F.lit(1).cast("long"))
        .withColumn("__seq", F.lit(1).cast("long"))
    )
    sink.apply(batch)  # now narrow AND wide files exist for physical 'n'
    sink.ddl([DropColumn("n")])
    got = sink.read()
    assert set(got.columns) == {"id", "v"}
    assert {r["id"]: r["v"] for r in got.collect()} == {1: "a", 2: "b"}
    # compaction over the mixed-width files still works post-drop
    sink.compact(min_files=1)
    assert {r["id"]: r["v"] for r in sink.read().collect()} == {1: "a", 2: "b"}


def test_metadata_widen_full_lattice_scan_promotable(spark, tmp_path):
    """Pin that EVERY pair ddl._is_widening accepts is honored by the
    Spark parquet reader's scan-time promotions on the metadata-only path
    (probed on Spark 4.1: int ladder, float->double, int->double, decimal
    precision AND scale growth, int->decimal). If a future Spark narrows
    this, the metadata-only widen must grow a gate — this test is the
    tripwire."""
    from decimal import Decimal

    from cdc_connector_spark.changelog.ddl import WidenColumn

    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    sink.overwrite(
        spark.createDataFrame(
            [(1, 2, 3, 1.5, 7, Decimal("12.34"))],
            "id long, a tinyint, b int, c float, d int, e decimal(10,2)",
        )
    )
    sink.ddl(
        [
            WidenColumn("a", "int"),
            WidenColumn("b", "bigint"),
            WidenColumn("c", "double"),
            WidenColumn("d", "decimal(12,2)"),
            WidenColumn("e", "decimal(14,4)"),
        ]
    )
    [row] = sink.read().collect()
    types = {f.name: f.dataType.simpleString() for f in sink.read().schema.fields}
    assert types == {
        "id": "bigint", "a": "int", "b": "bigint", "c": "double",
        "d": "decimal(12,2)", "e": "decimal(14,4)",
    }
    assert (row["a"], row["b"], row["c"]) == (2, 3, 1.5)
    assert row["d"] == Decimal("7.00") and row["e"] == Decimal("12.3400")


def test_read_column_order_deterministic_across_mixed_files(spark, tmp_path):
    """Data files from different commits can carry different column
    orders (overwrite stores the caller's order, a merge stores the
    merge output's); a multi-file parquet read takes its schema from an
    arbitrary footer, so without log-order normalization read() column
    order was a per-call coin flip (the streaming-join-view 1-in-3
    flake). Pin: read()/scan() always return the log's recorded order."""
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["k1", "k2"], num_buckets=4)
    # overwrite order: (b, k1, a, k2) — deliberately NOT key-first
    sink.overwrite(
        spark.createDataFrame(
            [("x", 1, "y", 10), ("z", 2, "w", 20)],
            "b string, k1 bigint, a string, k2 bigint",
        )
    )
    want = ["b", "k1", "a", "k2"]
    assert sink.read().columns == want
    # merge touches a subset of buckets: its files store the merge
    # output's order while untouched buckets keep the overwrite's
    ch = spark.createDataFrame(
        [(1, 10, "B", "A", "u", 5, "db", "t", 1)],
        "k1 bigint, k2 bigint, b string, a string, __op string, "
        "__ts_ms bigint, __source_db string, __source_table string, __seq bigint",
    )
    sink.apply(ch)
    for _ in range(5):  # was racy per call — hammer it
        assert sink.read().columns == want
    got = {tuple(r) for r in sink.read().collect()}
    assert got == {("B", 1, "A", 10), ("z", 2, "w", 20)}

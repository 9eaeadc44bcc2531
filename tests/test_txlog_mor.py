"""Merge-on-read delta layout of TxLogMergeSink.

Pins: an ``apply_delta`` commit writes one parquet file per partition of
its batch (one for a one-partition trigger), each add action naming its
file's bucket set; tables whose deltas use the older one-file-per-bucket
layout (an int ``bucket`` per delta, checkpoint ``deltas: {path: int}``)
stay readable and writable; and multi-bucket deltas interleaved with
copy-on-write merges, compaction and restore keep ``read()`` equal to a
sequential model and every commit's change feed exact.
"""

import json
import os
import random

import pyarrow.parquet as pq
from pyspark.sql import types as T

from cdc_connector_spark.changelog.envelope import envelope_schema, flatten_envelope
from cdc_connector_spark.changelog.txlog import TxLogMergeSink

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
)


def _batch(spark, events):
    """Change batch from ``(key, val, ts)`` events; ``val`` None deletes."""
    data = [
        (({"id": k, "val": "x"}, None, "d") if val is None else (None, {"id": k, "val": val}, "u"))
        + (ts, "db", "t", ts)
        for k, val, ts in events
    ]
    return flatten_envelope(spark.createDataFrame(data, envelope_schema(ROW_SCHEMA)), key_cols=["id"])


def _apply_model(model: dict, events) -> dict:
    out = dict(model)
    for k, val, _ in events:
        if val is None:
            out.pop(k, None)
        else:
            out[k] = val
    return out


def _rows(df) -> dict:
    return {} if df is None else {r["id"]: r["val"] for r in df.collect()}


def _replay_feed(before: dict, feed) -> dict:
    """``before`` with one commit's change feed applied; every delete and
    preimage row must match the state it claims to replace."""
    rows = [] if feed is None else feed.collect()
    for r in rows:
        if r["_change_type"] in ("delete", "update_preimage"):
            assert before.get(r["id"]) == r["val"], r
    after = dict(before)
    for r in rows:
        if r["_change_type"] == "delete":
            after.pop(r["id"])
        elif r["_change_type"] in ("insert", "update_postimage"):
            after[r["id"]] = r["val"]
    return after


def _buckets_of(spark, sink, keys) -> dict[int, int]:
    df = spark.createDataFrame([(k,) for k in keys], "id long")
    return {r["id"]: r["b"] for r in df.select("id", sink._bucket_expr().alias("b")).collect()}


def _commit_actions(sink, version: int) -> list[dict]:
    with open(sink._commit_file(version)) as f:
        return [json.loads(line) for line in f]


def test_delta_commit_is_one_file_per_batch_partition(spark, tmp_path):
    sink = TxLogMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=8)
    sink.overwrite(spark.createDataFrame([(i, "init") for i in range(40)], ROW_SCHEMA))
    bucket_of = _buckets_of(spark, sink, range(40))
    # a one-partition batch (a trigger read from one source file) is ONE file
    events = [(k, f"v{k}", 10 + k) for k in range(0, 40, 3)] + [(5, None, 99)]
    sink.apply_delta(_batch(spark, events).coalesce(1))

    adds = [a["add"] for a in _commit_actions(sink, 1) if "add" in a]
    assert len(adds) == 1 and adds[0]["delta"]
    assert adds[0]["buckets"] == sorted({bucket_of[k] for k, _, _ in events})
    assert len(adds[0]["buckets"]) > 1
    # data/<commit-uuid>/<file>: no bucket directories
    assert len(adds[0]["path"].split("/")) == 3
    assert sink._snapshot().deltas == {adds[0]["path"]: frozenset(adds[0]["buckets"])}
    want = _apply_model({i: "init" for i in range(40)}, events)

    # a batch of several partitions writes one file per non-empty
    # partition, no shuffle; each add names exactly its own file's buckets
    more = [(k, f"w{k}", 200 + k) for k in range(1, 40, 2)]
    batch = _batch(spark, more).repartition(3)
    sink.apply_delta(batch)
    want = _apply_model(want, more)
    adds = [a["add"] for a in _commit_actions(sink, 2) if "add" in a]
    assert len(adds) == 3
    held = set()
    for add in adds:
        ids = pq.read_table(os.path.join(sink.path, add["path"]), columns=["id"]).column(0)
        assert add["buckets"] == sorted({bucket_of[k] for k in ids.to_pylist()})
        held |= set(add["buckets"])
    assert held == {bucket_of[k] for k, _, _ in more}

    read = sink.read()
    assert "__bucket" not in read.columns and _rows(read) == want
    assert "__bucket" not in sink.scan({"id": (0, 9)}).columns
    # the change feed's unit, one bucket's rows, holds no row of the
    # delta's other buckets
    b = adds[0]["buckets"][0]
    assert {bucket_of[k] for k in _rows(sink._bucket_rows(2, {b}))} == {b}
    # an empty batch stages no file
    sink.apply_delta(_batch(spark, [(1, "x", 1)]).limit(0))
    assert not [a for a in _commit_actions(sink, 3) if "add" in a]
    assert _rows(sink.read()) == want


def _legacy_apply_delta(sink, changes) -> None:
    """apply_delta as the one-file-per-bucket layout committed it: a
    per-bucket write, each add marked ``delta`` with an int ``bucket``."""
    version = sink._snapshot().version + 1
    adds = sink._write_files(changes, sink._default_shuffle())
    for a in adds:
        a["add"]["delta"] = True
    sink._try_commit(version, [*adds, {"commitInfo": {"operation": "MERGE_DELTA"}}])


def _legacy_checkpoint(sink, version: int) -> None:
    """Checkpoint ``version`` the way the per-bucket layout stored it:
    ``deltas`` maps each path to one int bucket."""
    sink._maybe_checkpoint(version)
    cp = os.path.join(sink.log_dir, f"_checkpoint.{version:020d}.json")
    with open(cp) as f:
        state = json.load(f)
    assert state["deltas"] and all(len(bs) == 1 for bs in state["deltas"].values())
    state["deltas"] = {p: bs[0] for p, bs in state["deltas"].items()}
    with open(cp, "w") as f:
        json.dump(state, f)
    assert sink._last_checkpoint() == version


def test_legacy_per_bucket_deltas_stay_readable_and_writable(spark, tmp_path):
    path = str(tmp_path / "t")
    sink = TxLogMergeSink(spark, path, ["id"], num_buckets=4, checkpoint_interval=3)
    models = [{i: "init" for i in range(12)}]
    sink.overwrite(spark.createDataFrame(list(models[0].items()), ROW_SCHEMA))  # v0
    legacy = [
        [(1, "a1", 1), (2, None, 2), (12, "a12", 3), (7, "a7", 4)],
        [(1, "b1", 5), (3, "b3", 6), (9, None, 7)],
        [(12, "c12", 8), (4, "c4", 9), (10, "c10", 10), (0, None, 11)],
    ]
    for events in legacy:  # v1..v3
        _legacy_apply_delta(sink, _batch(spark, events))
        models.append(_apply_model(models[-1], events))
    _legacy_checkpoint(sink, 3)
    assert any(len(p.split("/")) == 4 for p in sink._snapshot().deltas)  # __bucket=<b> dirs

    def step(op, arg, expect):
        getattr(sink, op)(arg)
        models.append(expect)
        assert sink.current_version() == len(models) - 1
        assert _rows(sink.read()) == expect, op

    new = [(1, "d1", 20), (3, "d3", 21), (5, "d5", 22), (12, None, 23), (11, "d11", 24)]
    step("apply_delta", _batch(spark, new), _apply_model(models[-1], new))  # v4: new layout on top
    assert _rows(TxLogMergeSink(spark, path).read()) == models[4]  # from the log alone
    cow = [(7, "e7", 30), (13, "e13", 31)]
    step("apply", _batch(spark, cow), _apply_model(models[-1], cow))  # v5: folds every delta
    assert not sink._snapshot().deltas
    more = [(4, "f4", 40), (6, None, 41)]
    _legacy_apply_delta(sink, _batch(spark, more))  # v6
    models.append(_apply_model(models[-1], more))
    last = [(8, "g8", 50), (4, "g4", 51)]
    step("apply_delta", _batch(spark, last), _apply_model(models[-1], last))  # v7
    step("compact", 1, models[-1])  # v8
    assert not sink._snapshot().deltas
    step("restore", 4, models[4])  # v9: re-adds v4's legacy and new-layout deltas
    assert set(sink._snapshot().deltas) == set(sink._snapshot(4).deltas)

    for v in range(1, len(models)):
        assert _replay_feed(models[v - 1], sink.table_changes(v, v)) == models[v], v
    reopened = TxLogMergeSink(spark, path)
    assert _rows(reopened.read()) == models[-1]
    assert _rows(reopened.read(version=3)) == models[3]


def test_multi_bucket_deltas_with_cow_subsets_match_model(spark, tmp_path):
    """MOR commits whose keys span most buckets, interleaved with COW
    merges on one bucket, compaction and restore. After every
    commit ``read()`` equals the sequential model, and the commit's change
    feed turns the previous read into this one. A COW merge that meets a
    delta must fold every delta sharing a bucket with the ones it folds —
    folding only those that meet the batch loses an update."""
    for seed in range(2):
        rng = random.Random(seed)
        path = str(tmp_path / f"s{seed}")
        sink = TxLogMergeSink(spark, path, ["id"], num_buckets=8, checkpoint_interval=4)
        keys = list(range(16))
        by_bucket: dict[int, list[int]] = {}
        for k, b in _buckets_of(spark, sink, keys).items():
            by_bucket.setdefault(b, []).append(k)
        models = [{k: "init" for k in keys[:10]}]
        sink.overwrite(spark.createDataFrame(list(models[0].items()), ROW_SCHEMA))
        prev = _rows(sink.read())
        assert prev == models[0]
        ts = 0
        for step in range(16):
            op = rng.choice(["mor", "mor", "cow", "cow", "compact", "restore"])
            if op in ("mor", "cow"):
                # a MOR batch spans six of the eight buckets, a COW batch one
                spans = min(len(by_bucket), 6) if op == "mor" else 1
                pool = [k for b in rng.sample(sorted(by_bucket), spans) for k in by_bucket[b]]
                events = []
                for k in rng.sample(pool, min(len(pool), 8 if op == "mor" else 2)):
                    ts += 1
                    events.append((k, None if rng.random() < 0.2 else f"v{ts}", ts))
                if op == "mor":
                    sink.apply_delta(_batch(spark, events))
                else:
                    sink.apply(_batch(spark, events))
                model = _apply_model(models[-1], events)
            elif op == "compact":
                sink.compact(min_files=2)
                model = models[-1]
            else:
                if len(models) < 2:
                    continue
                target = rng.randrange(len(models) - 1)
                sink.restore(target)
                model = models[target]
            if sink.current_version() == len(models) - 1:
                continue  # nothing committed (a compact with no work)
            models.append(model)
            v = len(models) - 1
            assert sink.current_version() == v
            got = _rows(sink.read())
            assert got == model, f"seed {seed} step {step} ({op}) diverged"
            assert _replay_feed(prev, sink.table_changes(v, v)) == got, f"seed {seed} v{v} ({op}) feed"
            prev = got
        assert _rows(TxLogMergeSink(spark, path).read()) == models[-1]

"""Tests of the benchmark's own logic: the lag join, the percentile rule,
the reducers, and the sequential model against the real sink.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import datagen
import model
from measure import (
    SpanRecorder, batch_end_times, checkpoint_batches, lag_samples, percentile,
    reduce_event_log, reduce_txlog, self_times,
)


# -- percentile rule -----------------------------------------------------------

def test_no_p90_from_fewer_than_100_samples():
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(range(100)), 90) == 89.0


def test_p50_needs_ten_samples_beyond_it():
    assert percentile(list(range(19)), 50) is None
    assert percentile([float(x) for x in range(1, 21)], 50) == 10.0


# -- lag join --------------------------------------------------------------------

def _write_checkpoint(root, batches: dict[int, list[str]]) -> str:
    src = os.path.join(root, "sources", "0")
    os.makedirs(src)
    for b, names in batches.items():
        with open(os.path.join(src, str(b)), "w") as f:
            f.write("v1\n")
            for n in names:
                f.write(json.dumps({"path": f"file:///x/envelopes/{n}", "timestamp": 1, "batchId": b}) + "\n")
    with open(os.path.join(src, ".0.crc"), "w") as f:
        f.write("ignored")
    return str(root)


def test_checkpoint_log_reads_compacted_batches(tmp_path):
    ckpt = _write_checkpoint(tmp_path, {0: ["a.parquet"], 1: ["b.parquet"], 2: ["c.parquet"]})
    src = os.path.join(ckpt, "sources", "0")
    # compaction folds batches 0-1 into 1.compact and may delete their files
    os.rename(os.path.join(src, "1"), os.path.join(src, "1.compact"))
    with open(os.path.join(src, "1.compact"), "a") as f:
        f.write(json.dumps({"path": "file:///x/envelopes/a.parquet", "timestamp": 1, "batchId": 0}) + "\n")
    os.remove(os.path.join(src, "0"))
    assert checkpoint_batches(ckpt) == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 2}


def test_lag_join_on_synthetic_checkpoint_and_progress(tmp_path):
    ckpt = _write_checkpoint(tmp_path, {0: ["a.parquet", "b.parquet"], 1: ["c.parquet"]})
    progress = [
        {"batchId": 0, "timestamp": "2026-01-01T00:00:10.000Z", "numInputRows": 30,
         "durationMs": {"triggerExecution": 500}},
        # idle report for the next batch: no input, must not define an end time
        {"batchId": 1, "timestamp": "2026-01-01T00:00:10.600Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 5}},
        {"batchId": 1, "timestamp": "2026-01-01T00:00:11.000Z", "numInputRows": 5,
         "durationMs": {"triggerExecution": 1000}},
    ]
    t10 = 1767225610.0  # 2026-01-01T00:00:10Z
    ends = batch_end_times(progress)
    assert ends == {0: pytest.approx(t10 + 0.5), 1: pytest.approx(t10 + 2.0)}
    files = [("a.parquet", t10 - 1.0, 2), ("b.parquet", t10, 1), ("c.parquet", t10 + 0.5, 1)]
    lags = lag_samples(files, checkpoint_batches(ckpt), ends)
    assert lags == pytest.approx([1500.0, 1500.0, 500.0, 1500.0])


def test_lag_join_refuses_a_file_no_batch_read(tmp_path):
    ckpt = _write_checkpoint(tmp_path, {0: ["a.parquet"]})
    with pytest.raises(KeyError):
        lag_samples([("missing.parquet", 0.0, 1)], checkpoint_batches(ckpt), {0: 1.0})


# -- reducers and spans ------------------------------------------------------------

def test_event_log_reducer_groups_by_job_group(tmp_path):
    d = tmp_path / "app"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "ops.q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {},
         "Submission Time": 200_000},
        # submitted from a thread without a group, inside span snapshot.database
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {},
         "Submission Time": 50_500},
    ]
    for stage, dur, sw in [(0, 10, 100), (0, 30, 0), (1, 20, 0), (2, 5, 7), (3, 4, 0)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + dur},
            "Task Metrics": {"Executor Run Time": dur, "Memory Bytes Spilled": 1,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 2, "Local Bytes Read": 3},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}},
        })
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_app").write_text("")
    spans = [{"name": "bench.run", "start": 0.0, "end": 100.0},
             {"name": "snapshot.database", "start": 50.0, "end": 51.0}]
    g = reduce_event_log(str(tmp_path), spans)
    assert g["ops.q"]["jobs"] == 1 and g["ops.q"]["stages"] == 2 and g["ops.q"]["tasks"] == 3
    assert g["ops.q"]["shuffle_write_bytes"] == 100
    assert g["ops.q"]["shuffle_read_bytes"] == 15
    assert g["ops.q"]["task_skew"] == pytest.approx(30 / 20)
    assert g["untagged"]["tasks"] == 1
    assert g["snapshot.database"]["tasks"] == 1


def test_txlog_reducer_counts_per_commit(tmp_path):
    log = tmp_path / "_log"
    log.mkdir()
    commits = [
        [{"add": {"path": "a", "size": 10}}, {"add": {"path": "b", "size": 5}},
         {"commitInfo": {"operation": "OVERWRITE"}}],
        [{"add": {"path": "c", "size": 3, "delta": True}}, {"commitInfo": {"operation": "MERGE_DELTA"}}],
        [{"add": {"path": "d", "size": 4}}, {"remove": {"path": "a"}}, {"remove": {"path": "c"}},
         {"commitInfo": {"operation": "COMPACT"}}],
    ]
    for v, actions in enumerate(commits):
        (log / f"{v:020d}.json").write_text("\n".join(json.dumps(a) for a in actions) + "\n")
    (log / "_last_checkpoint").write_text("{}")
    recs = reduce_txlog(str(tmp_path))
    assert [r["operation"] for r in recs] == ["OVERWRITE", "MERGE_DELTA", "COMPACT"]
    assert [r["live_files"] for r in recs] == [2, 3, 2]
    assert recs[1]["delta_adds"] == 1 and recs[2]["removes"] == 2 and recs[0]["bytes_added"] == 15


def test_self_time_subtracts_children():
    spans = [
        {"name": "bench.run", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "txlog.apply", "start": 1.0, "end": 4.0, "parent": "bench.run"},
        {"name": "txlog.apply", "start": 3.0, "end": 6.0, "parent": "bench.run"},
        {"name": "ops.q", "start": 7.0, "end": 8.0, "parent": "bench.run"},
    ]
    st = self_times(spans, lambda n: n.split(".")[0])
    assert st == {"bench": pytest.approx(4.0), "txlog": pytest.approx(6.0), "ops": pytest.approx(1.0)}


def test_span_recorder_nests_per_thread():
    rec = SpanRecorder("r")
    with rec.span("bench.run"):
        with rec.span("ops.q"):
            pass
    assert {s["name"]: s["parent"] for s in rec.spans} == {"ops.q": "bench.run", "bench.run": None}


# -- sequential model against TxLogMergeSink -------------------------------------------

def _row(k: int, price: float) -> dict:
    return {"o_orderkey": k, "o_custkey": 1, "o_orderstatus": "O", "o_totalprice": price,
            "o_orderdate": 788_918_400_000_000, "o_orderpriority": "1-URGENT"}


def _events(spec: list[tuple[int, str, int, int, float]]) -> datagen.Events:
    """(key, op, ts_ms, seq, price) per event, in commit order."""
    return datagen.Events(
        key=np.array([s[0] for s in spec], dtype=np.int64),
        op=[s[1] for s in spec],
        ts_ms=np.array([s[2] for s in spec], dtype=np.int64),
        seq=np.array([s[3] for s in spec], dtype=np.int64),
        after=[None if s[1] == "d" else _row(s[0], s[4]) for s in spec],
    )


CASES = {
    # delete then re-insert of the same key, across files and within one file
    "delete_then_reinsert": [
        [(1, "d", 10, 0, 0.0), (2, "d", 10, 1, 0.0), (2, "c", 11, 2, 7.5)],
        [(1, "c", 12, 3, 9.25)],
    ],
    # same ts: seq decides, although the higher seq comes first in the file
    "same_ts_tie_broken_by_seq": [
        [(3, "u", 20, 5, 2.0), (3, "u", 20, 4, 1.0), (4, "u", 20, 7, 4.0), (4, "d", 20, 6, 0.0)],
    ],
    # rows of one file in shuffled order over several keys
    "shuffled_within_file": [
        [(0, "u", 30, 12, 3.0), (2, "u", 31, 14, 5.0), (0, "u", 29, 11, 2.0),
         (1, "d", 31, 13, 0.0), (2, "u", 30, 10, 4.0)],
    ],
}


@pytest.mark.parametrize("merge_on_read", [True, False], ids=["mor", "cow"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_model_matches_sink(spark, tmp_path, case, merge_on_read):
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.streaming.pipeline import ChangelogStream
    from workloads import rows_by_key

    base = pa.Table.from_pylist([_row(k, 100.0 + k) for k in range(5)], schema=pa.schema(
        [(f.name, pa.int64() if f.name == "o_orderdate" else f.type) for f in datagen.ORDERS_SCHEMA]))
    base = base.set_column(4, "o_orderdate", base.column("o_orderdate").cast(pa.timestamp("us")))
    src = str(tmp_path / "orders.parquet")
    pq.write_table(base, src)
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["o_orderkey"], num_buckets=4)
    sink.overwrite(spark.read.parquet(src))

    env = tmp_path / "env"
    env.mkdir()
    batches = [_events(spec) for spec in CASES[case]]
    for i, ev in enumerate(batches):
        datagen.write_envelope_file(datagen.envelope_table(ev, np.arange(len(ev))), str(env),
                                    f"f{i}.parquet", mtime=1_000_000 + i)
    stream = ChangelogStream(spark, str(env), sink, spark.read.parquet(src).schema, ["o_orderkey"],
                             str(tmp_path / "ckpt"), max_files_per_trigger=1,
                             merge_on_read=merge_on_read, compact_every=0)
    stream.run_until_caught_up(timeout_s=120)
    assert stream.quarantined_batch_ids() == []

    expected = model.apply_events(rows_by_key(base), batches)
    actual = rows_by_key(sink.read().toArrow())
    assert model.mismatched_keys(expected, actual) == set()


def test_model_applies_in_ts_seq_order_not_file_order():
    initial = {1: _row(1, 1.0)}
    late_file_first = [_events([(1, "u", 5, 9, 9.0)]), _events([(1, "u", 5, 3, 3.0)])]
    assert model.apply_events(initial, late_file_first)[1]["o_totalprice"] == 9.0
    assert model.mismatched_keys({1: _row(1, 1.0)}, {1: _row(1, 2.0), 2: _row(2, 0.0)}) == {1, 2}
    assert model.events_on_keys(late_file_first, {1}) == 2


def test_benchmark_json_lists_what_run_reports():
    import run
    from workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.per_layer_names()

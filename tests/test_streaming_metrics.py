"""streaming/metrics.py — queryable metrics snapshots (the metrics.yaml
analogue): progress parsing, bounded idempotent collection, the
per-stream report roll-up, and the end-to-end path over a REAL
ChangelogStream's StreamingQuery progress."""

import pytest
from pyspark.sql import types as T

from cdc_connector_spark.changelog.envelope import envelope_schema
from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.streaming.metrics import (
    PROGRESS_SCHEMA,
    StreamingMetrics,
    parse_progress,
    report,
)
from cdc_connector_spark.streaming.pipeline import ChangelogStream

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
)


PROG = {
    "batchId": 3,
    "timestamp": "2026-08-16T00:00:01.000Z",
    "numInputRows": 120,
    "inputRowsPerSecond": 40.0,
    "processedRowsPerSecond": 60.0,
    "durationMs": {"triggerExecution": 2000, "addBatch": 1500},
    "eventTime": {"watermark": "2026-08-16T00:00:00.000Z"},
    "stateOperators": [
        {"numRowsTotal": 10, "memoryUsedBytes": 2048, "numRowsDroppedByWatermark": 1},
        {"numRowsTotal": 5, "memoryUsedBytes": 1024, "numRowsDroppedByWatermark": 0},
    ],
}


def test_parse_progress_maps_fields_and_sums_state_operators():
    row = parse_progress("orders", PROG)
    assert row["stream"] == "orders" and row["batch_id"] == 3
    assert row["num_input_rows"] == 120 and row["trigger_ms"] == 2000
    assert row["add_batch_ms"] == 1500
    # state operators SUM across operators
    assert row["state_rows"] == 15
    assert row["state_memory_bytes"] == 3072
    assert row["dropped_by_watermark"] == 1
    assert row["watermark"] == "2026-08-16T00:00:00.000Z"


def test_parse_progress_absent_fields_are_null_and_nan_rate_is_null():
    row = parse_progress("t", {"batchId": 0, "inputRowsPerSecond": float("nan")})
    assert row["input_rows_per_sec"] is None  # NaN would poison AVG/SUM
    assert row["state_rows"] is None  # stateless: no operators at all
    assert row["trigger_ms"] is None
    # the epoch sentinel Spark reports before any watermark is NULLed
    row2 = parse_progress(
        "t", {"batchId": 1, "eventTime": {"watermark": "1970-01-01T00:00:00.000Z"}}
    )
    assert row2["watermark"] is None


class _FakeQuery:
    def __init__(self, progresses):
        self.recentProgress = progresses


def test_collect_is_idempotent_and_dedupes_on_batch_id(spark):
    m = StreamingMetrics(spark)
    q = _FakeQuery([dict(PROG, batchId=0), dict(PROG, batchId=1)])
    m.register("s1", q)
    assert m.collect() == 2
    assert m.collect() == 0  # same ring again: nothing new
    q.recentProgress.append(dict(PROG, batchId=2))
    assert m.collect() == 1
    snap = m.snapshot()
    assert snap.schema == PROGRESS_SCHEMA
    assert snap.count() == 3
    with pytest.raises(ValueError, match="already registered"):
        m.register("s1", _FakeQuery([]))


def test_report_exact_rollup(spark):
    m = StreamingMetrics(spark)
    m.register(
        "a",
        _FakeQuery(
            [
                {"batchId": 0, "numInputRows": 100, "durationMs": {"triggerExecution": 1000}},
                {"batchId": 1, "numInputRows": 300, "durationMs": {"triggerExecution": 3000}},
            ]
        ),
    )
    m.register("b", _FakeQuery([{"batchId": 0, "numInputRows": 0, "durationMs": {}}]))
    m.collect()
    rows = {r["stream"]: r for r in m.report().collect()}
    a = rows["a"]
    # 400 rows over 4.0 s of busy time = exactly 100.0 rows/sec
    assert (a["batches"], a["rows"], a["rows_per_sec"]) == (2, 400, 100.0)
    assert a["max_trigger_ms"] == 3000 and a["last_batch_id"] == 1
    b = rows["b"]
    assert b["batches"] == 1 and b["rows"] == 0
    assert b["rows_per_sec"] is None  # no trigger time recorded -> NULL, not div0


def _env_df(spark, rows):
    data = [(b, a, op, ts, "db", "t", seq) for (b, a, op, ts, seq) in rows]
    return spark.createDataFrame(data, envelope_schema(ROW_SCHEMA))


def test_metrics_over_real_changelog_stream(spark, tmp_path):
    """End-to-end (r12 verdict #3): a real ChangelogStream's
    StreamingQuery feeds the collector; the snapshot is a queryable
    DataFrame whose row counts reconcile with what the stream applied,
    and report() rolls it up per stream."""
    _check_metrics_over_stream(spark, tmp_path, prefilled=False)


def test_metrics_over_real_changelog_stream_prefilled_sink(spark, tmp_path):
    """Same, into a non-empty sink: the copy-on-write merge runs several
    Spark jobs over the micro-batch (touched-bucket discovery, the merge
    write), and each used to re-run the source and count its rows again
    (9 for 3 events). Each event must be counted once."""
    _check_metrics_over_stream(spark, tmp_path, prefilled=True)


def _check_metrics_over_stream(spark, tmp_path, prefilled):
    src = tmp_path / "in"
    src.mkdir()
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["id"])
    if prefilled:
        sink.overwrite(spark.createDataFrame([(1, "old"), (9, "keep")], ROW_SCHEMA))
    _env_df(
        spark,
        [
            (None, {"id": 1, "val": "a"}, "c", 100, 1),
            (None, {"id": 2, "val": "b"}, "c", 100, 2),
            (None, {"id": 3, "val": "c"}, "c", 100, 3),
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
    q = stream.start(available_now=True)
    m = StreamingMetrics(spark)
    m.register("orders_stream", q)
    q.awaitTermination(120)
    new = m.collect()
    assert new >= 1

    snap = m.snapshot()
    assert snap.schema == PROGRESS_SCHEMA
    got = snap.filter("stream = 'orders_stream'").collect()
    assert sum(r["num_input_rows"] for r in got) == 3  # all envelope rows observed
    assert all(r["trigger_ms"] is None or r["trigger_ms"] >= 0 for r in got)

    rep = {r["stream"]: r for r in m.report().collect()}
    assert rep["orders_stream"]["rows"] == 3
    assert rep["orders_stream"]["batches"] == len(got)
    # collect() again after the run is a no-op: the ring didn't move
    assert m.collect() == 0


def test_report_over_progress_dataframe_function(spark):
    """report() is a pure DataFrame->DataFrame roll-up usable without a
    collector instance — the shape the driver entry replays in SQL."""
    df = spark.createDataFrame(
        [
            {"stream": "x", "batch_id": 0, "num_input_rows": 50, "trigger_ms": 500},
            {"stream": "x", "batch_id": 1, "num_input_rows": 150, "trigger_ms": 1500},
        ],
        PROGRESS_SCHEMA,
    )
    row = report(df).collect()[0]
    assert (row["batches"], row["rows"], row["rows_per_sec"]) == (2, 200, 100.0)


def test_prometheus_lines_exposition_format(spark):
    """The metrics.yaml last mile: report rows render as labeled gauges
    in the Prometheus text format; NULL gauges are omitted (absent beats
    NaN in PromQL); label values escape quotes/backslashes."""
    from cdc_connector_spark.streaming.metrics import prometheus_lines

    m = StreamingMetrics(spark)
    m.register(
        'or"ders',
        _FakeQuery(
            [{"batchId": 0, "numInputRows": 100, "durationMs": {"triggerExecution": 1000}}]
        ),
    )
    m.register("idle", _FakeQuery([{"batchId": 0, "numInputRows": 0, "durationMs": {}}]))
    m.collect()
    lines = prometheus_lines(m.report())
    body = "\n".join(lines)
    assert '# TYPE cdc_stream_rows gauge' in body
    assert 'cdc_stream_rows{stream="or\\"ders"} 100' in body
    assert 'cdc_stream_rows_per_sec{stream="or\\"ders"} 100.0' in body
    # idle stream: rows_per_sec is NULL -> no line for it
    assert 'cdc_stream_rows_per_sec{stream="idle"}' not in body
    assert 'cdc_stream_rows{stream="idle"} 0' in body


def test_prometheus_lines_escape_newline(spark):
    """A stream name containing a newline must render as the two-char
    escape \\n, not a raw line break (exposition spec; advisor, r14)."""
    from cdc_connector_spark.streaming.metrics import prometheus_lines

    m = StreamingMetrics(spark)
    m.register(
        "or\nders",
        _FakeQuery(
            [{"batchId": 0, "numInputRows": 5, "durationMs": {"triggerExecution": 100}}]
        ),
    )
    m.collect()
    lines = prometheus_lines(m.report())
    assert 'cdc_stream_rows{stream="or\\nders"} 5' in lines
    assert all("\n" not in ln for ln in lines)

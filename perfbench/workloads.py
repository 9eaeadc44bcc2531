"""The two workloads.

Each drives the engine only through its public surfaces, times the calls
from here, and returns the measured values plus an operation count for
the correctness verdict:

- ``trickle``: an open-loop trickle of small change batches through
  ``ChangelogStream(merge_on_read=True)`` into ``TxLogMergeSink.apply_delta``;
  then reconciliation (base + deltas read) and one compaction.
- ``catchup``: the batch plane after an outage. ``snapshot_database`` of
  the TPC-H tables; the sink starts from the orders snapshot and drains a
  fixed backlog with ``availableNow`` into the copy-on-write
  ``TxLogMergeSink.apply``; ``run_all_checks`` of the sink and of the
  two largest tables; then a fixed set of ``queries()`` entries, each
  checked against its DuckDB oracle outside the timed window.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import model
from measure import batch_end_times, checkpoint_batches, lag_samples, progress_rows

# 16 buckets for 150k keys: apply_delta shuffles to min(buckets, 4 x 2 shuffle
# partitions) = 8 tasks either way, and fewer files keep a run short
NUM_BUCKETS = 16
N_ORDERS, N_CUSTOMERS = 150_000, 15_000  # the orders table at sf0.1
SETUP_REPEATS = 3
KEY = ["o_orderkey"]

# trickle: an open loop well below the sustainable rate. One file per
# interval, longer than a trigger takes, so each trigger reads one file and
# the stream idles in between: lag is then one trigger's time, not a queue
TRICKLE_INTERVAL_MS = 2000
TRICKLE_EVENTS_PER_FILE = 100
WARMUP_EVENTS = 64
WARMUP_BATCHES = 4  # the first few triggers of a new query run slower

# catchup: fixed-size triggers of Zipf-skewed keys over the snapshot's orders
CATCHUP_FILES_PER_TRIGGER = 4
CATCHUP_EVENTS_PER_FILE = 1000
CATCHUP_ZIPF = 1.2

# catchup's snapshot and analytics
SNAPSHOT_SF = 0.02
SNAPSHOT_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
# the tables reconciled against their snapshot: the two largest; a check of
# a five-row table costs the same Spark jobs and says nothing more
CHECKED_TABLES = ["orders", "lineitem"]
# fk_integrity_all is left out: anti_join_orphans already checks a foreign
# key, and its 3.5 s does not fit the run's time limit
QUERIES = [
    "rowcounts", "distinct_pk_lineitem", "dup_groups_topk", "anti_join_orphans",
    "changelog_latest_per_key", "shortest_paths_parts", "neardup_groups_documents",
]


class Context:
    """What one run shares: session, work dir, seed, run length, spans."""

    def __init__(self, spark, work: str, seed: int, seconds: int, spans, traced: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.spans = spans
        self.traced = traced
        self.layer: dict[str, float] = {}  # per-layer values measured here
        self.stream_version = -1  # sink version when the stream stopped
        self.stream_events = 0  # change events the stream's commits applied
        self.reconcile_verdict = False  # run_all_checks of the sink passed

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class TimedSink:
    """Thin proxy around ``TxLogMergeSink`` that records a span per sink
    call made by the stream (``ChangelogStream`` needs only ``path``,
    ``apply`` and ``apply_delta``)."""

    def __init__(self, sink, spans) -> None:
        self._sink = sink
        self._spans = spans
        self.path = sink.path

    def apply(self, changes) -> None:
        with self._spans.span("txlog.apply", parent="streaming.trigger"):
            self._sink.apply(changes)

    def apply_delta(self, changes) -> None:
        with self._spans.span("txlog.apply_delta", parent="streaming.trigger"):
            self._sink.apply_delta(changes)


def rows_by_key(tbl: pa.Table) -> dict[int, dict]:
    """Key -> row with timestamps as epoch microseconds (the form the
    generated change events carry)."""
    cols = {}
    for name in datagen.ORDERS_SCHEMA.names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        cols[name] = col
    rows = pa.table(cols).to_pylist()
    return {r["o_orderkey"]: r for r in rows}


def _bootstrap(ctx: Context, rep: int):
    """Generate ``orders`` and load it into a fresh sink: one set-up."""
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink

    orders = datagen.orders_table(np.random.default_rng(ctx.seed), N_ORDERS, N_CUSTOMERS)
    src = ctx.path(f"orders_{rep}.parquet")
    pq.write_table(orders, src)
    sink = TxLogMergeSink(ctx.spark, ctx.path(f"sink_{rep}"), KEY, num_buckets=NUM_BUCKETS)
    sink.overwrite(ctx.spark.read.parquet(src))
    return orders, src, sink


def _repeated_setup(ctx: Context):
    """``SETUP_REPEATS`` independent set-ups; returns the last one and the
    median set-up time."""
    times = []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with ctx.spans.span("bench.setup"):
            out = _bootstrap(ctx, rep)
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


def _wait_rows(query, expected: int, timeout_s: float = 120.0) -> None:
    """Block until the stream has read ``expected`` input rows in total."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        done = sum(p["numInputRows"] for p in progress_rows(query.recentProgress))
        if done >= expected:
            return
        time.sleep(0.05)
    raise TimeoutError(f"stream did not read {expected} rows within {timeout_s}s")


def _reconcile(ctx: Context, sink, expected: dict[int, dict]) -> float:
    """``run_all_checks`` of the sink against the source's true state
    (the sequential model); returns its wall time."""
    from cdc_connector_spark.validation.checks import PASS, run_all_checks

    src_path = ctx.path("source_final.parquet")
    rows = sorted(expected.values(), key=lambda r: r["o_orderkey"])
    tbl = pa.Table.from_pylist(rows, schema=pa.schema(
        [(f.name, pa.int64() if f.name == "o_orderdate" else f.type) for f in datagen.ORDERS_SCHEMA]
    ))
    tbl = tbl.set_column(4, "o_orderdate", tbl.column("o_orderdate").cast(pa.timestamp("us")))
    pq.write_table(tbl, src_path)
    source = ctx.spark.read.parquet(src_path)
    t0 = time.perf_counter()
    with ctx.spans.span("validation.sink"):
        report = run_all_checks("orders", source, sink.read(), KEY)
    dt = time.perf_counter() - t0
    ctx.layer["validation.sink_s"] = dt
    ctx.reconcile_verdict = report.verdict == PASS
    if ctx.traced:
        t0 = time.perf_counter()
        with ctx.spans.span("txlog.read"):
            sink.read().write.format("noop").mode("overwrite").save()
        ctx.layer["txlog.read_s"] = time.perf_counter() - t0
    return dt


def _verify_sink(ctx: Context, sink, stream, expected: dict[int, dict], batches) -> int:
    """Failed events: those on keys where the sink differs from the model,
    plus those in batches the stream parked under ``_quarantine``."""
    actual = rows_by_key(sink.read().toArrow())
    bad = model.mismatched_keys(expected, actual)
    failed = model.events_on_keys(batches, bad)
    parked = stream.quarantined_batch_ids()
    if parked:
        failed += pq.read_table(stream.quarantine_dir).num_rows
    if bad or parked:
        print(f"# verify: {len(bad)} keys differ, parked batches {parked}", flush=True)
    return failed


def _stream_layer(ctx: Context, progress: list[dict], file_batch: dict[str, int]) -> None:
    """Per-trigger figures from the stream's own progress reports."""
    data = [p for p in progress if p.get("numInputRows")]
    trig = [p["durationMs"]["triggerExecution"] for p in data]
    per_batch: dict[int, int] = {}
    for b in file_batch.values():
        per_batch[b] = per_batch.get(b, 0) + 1
    ctx.layer["streaming.batches"] = len(data)
    ctx.layer["streaming.trigger_ms_p50"] = statistics.median(trig) if trig else 0.0
    ctx.layer["streaming.files_per_batch_p50"] = statistics.median(per_batch.values()) if per_batch else 0.0
    end = batch_end_times(data)
    for p in data:
        b = int(p["batchId"])
        ctx.spans.add("streaming.trigger", end[b] - p["durationMs"]["triggerExecution"] / 1000.0,
                      end[b], "bench.stream")


def _stream(ctx: Context, sink, src_path: str, merge_on_read: bool, max_files: int):
    from cdc_connector_spark.streaming.pipeline import ChangelogStream

    os.makedirs(ctx.path("envelopes"), exist_ok=True)
    target = TimedSink(sink, ctx.spans) if ctx.traced else sink
    return ChangelogStream(
        ctx.spark, ctx.path("envelopes"), target, ctx.spark.read.parquet(src_path).schema,
        KEY, ctx.path("checkpoint"), max_files_per_trigger=max_files,
        merge_on_read=merge_on_read, compact_every=0,
    )


# -- trickle -------------------------------------------------------------------

def trickle(ctx: Context) -> dict:
    (orders, src, sink), setup_med = _repeated_setup(ctx)
    initial = rows_by_key(orders)
    env_dir = ctx.path("envelopes")
    stream = _stream(ctx, sink, src, merge_on_read=True, max_files=100_000)
    n_files = max(1, ctx.seconds * 1000 // TRICKLE_INTERVAL_MS)
    per_file = TRICKLE_EVENTS_PER_FILE
    live = set(range(N_ORDERS))
    warm = datagen.generate_events(ctx.seed + 1, orders, WARMUP_EVENTS, live=live)
    load = datagen.generate_events(
        ctx.seed + 2, orders, n_files * per_file, seq0=WARMUP_EVENTS,
        ts0_ms=int(warm.ts_ms[-1]) + 1, live=live,
    )

    # warm-up: a few batches through the running stream, part of set-up
    t0 = time.perf_counter()
    with ctx.spans.span("bench.warmup"):
        query = stream.start(available_now=False)
        for i, idx in enumerate(np.array_split(np.arange(len(warm)), WARMUP_BATCHES)):
            datagen.write_envelope_file(datagen.envelope_table(warm, idx), env_dir, f"w{i}.parquet")
            _wait_rows(query, int(idx[-1]) + 1)
    warm_s = time.perf_counter() - t0

    # open loop: file i is due at start + i / rate, whatever the stream does
    files: list[tuple[str, float, int]] = []
    late: list[float] = []
    errors: list[BaseException] = []

    def generate(start: float) -> None:
        try:
            _generate(start)
        except BaseException as e:  # noqa: BLE001 — re-raised on the main thread
            errors.append(e)

    def _generate(start: float) -> None:
        for i in range(n_files):
            due = start + i * TRICKLE_INTERVAL_MS / 1000.0
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            name = f"e{i:06d}.parquet"
            tbl = datagen.envelope_table(load, np.arange(i * per_file, (i + 1) * per_file))
            datagen.write_envelope_file(tbl, env_dir, name)
            late.append(max(0.0, time.time() - due) * 1000.0)
            files.append((name, due, per_file))

    t_work = time.perf_counter()
    with ctx.spans.span("bench.stream"):
        gen = threading.Thread(target=generate, args=(time.time() + 0.05,))
        gen.start()
        gen.join()
        if errors:
            raise errors[0]
        _wait_rows(query, len(warm) + len(load))
        query.stop()
    progress = progress_rows(query.recentProgress)
    file_batch = checkpoint_batches(ctx.path("checkpoint"))
    lags = lag_samples(files, file_batch, batch_end_times(progress))
    load_batches = {f: file_batch[f] for f, _, _ in files}
    _stream_layer(ctx, [p for p in progress if p["batchId"] in set(load_batches.values())], load_batches)
    ctx.layer["gen.late_ms_max"] = max(late)
    ctx.stream_version = sink.current_version()
    ctx.stream_events = len(warm) + len(load)

    expected = model.apply_events(initial, [warm, load])
    reconcile_s = _reconcile(ctx, sink, expected)
    t0 = time.perf_counter()
    with ctx.spans.span("txlog.compact"):
        sink.compact()
    compact_s = time.perf_counter() - t0
    total_s = time.perf_counter() - t_work
    ctx.layer["txlog.compact_s"] = compact_s

    failed = _verify_sink(ctx, sink, stream, expected, [warm, load])
    return {
        "attempted": len(warm) + len(load) + 1,  # events and the reconciliation
        "failed": failed + (0 if ctx.reconcile_verdict else 1),
        "setup_s": setup_med + warm_s,
        "lag": lags,
        "reconcile_s": reconcile_s,
        "total_s": total_s,
        "sink": sink,
    }


# -- catchup -------------------------------------------------------------------

def catchup_triggers(seconds: int) -> int:
    """Backlog size in triggers: one per ten seconds of run length, and
    never fewer than two."""
    return max(2, round(seconds / 10))


def _snapshot(ctx: Context, metas: list, rows: dict[str, int]) -> dict[str, str]:
    """``snapshot_database`` of the TPC-H tables, with per-table figures."""
    from cdc_connector_spark.snapshot.engine import snapshot_database

    start = time.time()
    with ctx.spans.span("snapshot.database"):
        out = snapshot_database(ctx.spark, metas, ctx.path("snapshot"), mode="overwrite")
    snap_s = time.time() - start
    ctx.layer["snapshot.total_s"] = snap_s
    ctx.layer["snapshot.rows_per_s"] = sum(rows.values()) / snap_s
    for t in ("orders", "lineitem"):
        # a table's write job commits by writing its _SUCCESS marker
        ctx.layer[f"snapshot.{t}_s"] = os.path.getmtime(os.path.join(out[f"bench_{t}"], "_SUCCESS")) - start
    files = [os.path.join(out[f"bench_{t}"], f) for t in SNAPSHOT_TABLES
             for f in os.listdir(out[f"bench_{t}"]) if f.endswith(".parquet")]
    ctx.layer["snapshot.output_files"] = len(files)
    ctx.layer["snapshot.bytes_written"] = sum(os.path.getsize(f) for f in files)
    return out


def _queries(ctx: Context, views: str) -> str:
    """Run the query set over ``views``; each result is written as parquet
    (the whole plan runs, as under the noop sink) for the oracle check."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    results = ctx.path("results")
    for name in QUERIES:
        t0 = time.perf_counter()
        with ctx.spans.span(f"ops.{name}"):
            qs[name](ctx.spark, views).write.mode("overwrite").parquet(os.path.join(results, name))
        ctx.layer[f"ops.{name}_s"] = time.perf_counter() - t0
    return results


def _oracle_failures(views: str, results: str) -> int:
    """Queries whose output differs from their ``oracle_sql()`` twin on
    DuckDB over the same files (row count, columns, order-insensitive
    value hash — the comparison ``tools/check_oracle.py`` makes)."""
    import duckdb

    import __spark_entry__ as entry_mod
    from tools.check_oracle import value_hash

    oracles = entry_mod.oracle_sql()
    failed = 0
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            p = os.path.join(views, f"{t}.parquet")
            files = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
        for name in QUERIES:
            got = pq.read_table(os.path.join(results, name)).to_pandas()
            want = con.execute(oracles[name]).fetchdf()
            got.columns = [c.lower() for c in got.columns]
            want.columns = [c.lower() for c in want.columns]
            if len(got) != len(want) or sorted(got.columns) != sorted(want.columns) \
                    or value_hash(got) != value_hash(want):
                print(f"# verify: {name} differs from its oracle", flush=True)
                failed += 1
    finally:
        con.close()
    return failed


def catchup(ctx: Context) -> dict:
    """Snapshot the source, catch the sink up on a backlog, reconcile,
    then run the analytic query set over the snapshot."""
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.tables import TESTDATA_TABLES, load_table, meta_from_df
    from cdc_connector_spark.validation.checks import PASS, run_all_checks

    spark = ctx.spark
    times = []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with ctx.spans.span("bench.setup"):
            tables = datagen.generate_tables(ctx.seed, SNAPSHOT_SF)
            src = ctx.path(f"source_{rep}")
            datagen.write_tables(tables, src)
        times.append(time.perf_counter() - t0)
    rows = {t: tables[t].num_rows for t in SNAPSHOT_TABLES}
    metas = []
    for t in SNAPSHOT_TABLES:
        df = load_table(spark, src, t)
        metas.append((df, meta_from_df("bench", t, df, TESTDATA_TABLES[t])))

    # the backlog that piled up while the sink was down, over the orders keys:
    # per key in commit order across files (a binlog's order), rows shuffled
    # within each file, strictly increasing modification times
    orders = tables["orders"]
    n_files = catchup_triggers(ctx.seconds) * CATCHUP_FILES_PER_TRIGGER
    backlog = datagen.generate_events(
        ctx.seed + 2, orders, n_files * CATCHUP_EVENTS_PER_FILE, zipf_a=CATCHUP_ZIPF)
    rng = np.random.default_rng(ctx.seed + 3)
    env_dir = ctx.path("envelopes")
    os.makedirs(env_dir)
    now = time.time()
    files = []
    for i in range(n_files):
        idx = np.arange(i * CATCHUP_EVENTS_PER_FILE, (i + 1) * CATCHUP_EVENTS_PER_FILE)
        name = f"b{i:06d}.parquet"
        datagen.write_envelope_file(
            datagen.envelope_table(backlog, rng.permutation(idx)), env_dir, name, mtime=now - 1800 + i)
        files.append(name)

    t_work = time.perf_counter()
    out = _snapshot(ctx, metas, rows)

    # the CDC sink starts from the snapshot of orders
    t0 = time.perf_counter()
    with ctx.spans.span("txlog.bootstrap"):
        sink = TxLogMergeSink(spark, ctx.path("sink"), KEY, num_buckets=NUM_BUCKETS)
        sink.overwrite(spark.read.parquet(out["bench_orders"]))
    ctx.layer["txlog.bootstrap_s"] = time.perf_counter() - t0
    stream = _stream(ctx, sink, out["bench_orders"], merge_on_read=False, max_files=CATCHUP_FILES_PER_TRIGGER)
    with ctx.spans.span("bench.stream"):
        start = time.time()
        query = stream.start(available_now=True)
        query.awaitTermination(150)
        if query.isActive:
            query.stop()
            raise TimeoutError("backlog drain did not finish")
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        drain_s = time.time() - start
    progress = progress_rows(query.recentProgress)
    file_batch = checkpoint_batches(ctx.path("checkpoint"))
    lags = lag_samples([(f, start, CATCHUP_EVENTS_PER_FILE) for f in files], file_batch,
                       batch_end_times(progress))
    _stream_layer(ctx, progress, file_batch)
    ctx.layer["catchup.events_per_s"] = len(backlog) / drain_s
    ctx.stream_version = sink.current_version()
    ctx.stream_events = len(backlog)

    # reconciliation: the sink against the source's true state, then each
    # snapshotted table against its source
    expected = model.apply_events(rows_by_key(orders), [backlog])
    reconcile_s = _reconcile(ctx, sink, expected)
    failed = 0 if ctx.reconcile_verdict else 1
    for df, meta in metas:
        if meta.table not in CHECKED_TABLES:
            continue
        t0 = time.perf_counter()
        with ctx.spans.span(f"validation.{meta.table}"):
            report = run_all_checks(meta.table, df, spark.read.parquet(out[meta.sink_name]),
                                    meta.pk_cols, meta.ts_col)
        dt = time.perf_counter() - t0
        reconcile_s += dt
        ctx.layer[f"validation.{meta.table}_s"] = dt
        if report.verdict != PASS:
            print(f"# verify: run_all_checks({meta.table}) = {report.verdict}", flush=True)
            failed += 1

    # analytics over the snapshot; tables it does not hold come from the source
    views = ctx.path("views")
    os.makedirs(views)
    for t in datagen.TABLES:
        target = out[f"bench_{t}"] if t in SNAPSHOT_TABLES else os.path.join(src, f"{t}.parquet")
        os.symlink(target, os.path.join(views, f"{t}.parquet"))
    results = _queries(ctx, views)
    total_s = time.perf_counter() - t_work

    failed += _oracle_failures(views, results)
    failed += _verify_sink(ctx, sink, stream, expected, [backlog])
    return {
        "attempted": len(backlog) + 1 + len(CHECKED_TABLES) + len(QUERIES),
        "failed": failed,
        "setup_s": statistics.median(times),
        "lag": lags,
        "reconcile_s": reconcile_s,
        "total_s": total_s,
        "sink": sink,
    }


WORKLOADS = {"trickle": trickle, "catchup": catchup}

#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; untraced runs report the
end-to-end metrics, traced runs (``--trace 1``) the per-layer metrics.
All inputs are generated from ``--seed``; everything the run writes goes
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (spans
and reduced logs) in the current directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# name -> (unit, better); every workload reports every one of them
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ok_frac": ("ratio", "higher"),
    "lag_p50_ms": ("ms", "lower"),
    "lag_p90_ms": ("ms", "lower"),
    "reconcile_s": ("s", "lower"),
    "total_s": ("s", "lower"),
}

_SPARK_LAYERS = ["bench", "txlog", "snapshot", "validation", "ops"]
_SPARK_COUNTERS = ["tasks", "executor_run_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]
_SELF_LAYERS = ["bench", "streaming", "txlog", "snapshot", "validation", "ops"]


def per_layer_names() -> dict[str, tuple[str, str]]:
    """Every per-layer metric with its unit and direction."""
    from workloads import CHECKED_TABLES, QUERIES

    m = {
        "streaming.batches": ("count", "lower"),
        "streaming.files_per_batch_p50": ("count", "higher"),
        "streaming.trigger_ms_p50": ("ms", "lower"),
        "streaming.overhead_ms_p50": ("ms", "lower"),
        "catchup.events_per_s": ("1/s", "higher"),
        "gen.late_ms_max": ("ms", "lower"),
        "txlog.apply_delta_ms_p50": ("ms", "lower"),
        "txlog.apply_ms_p50": ("ms", "lower"),
        "txlog.tasks_per_commit": ("count", "lower"),
        "txlog.files_added_per_commit": ("count", "lower"),
        "txlog.files_removed_per_commit": ("count", "lower"),
        "txlog.bytes_added_per_event": ("B", "lower"),
        "txlog.shuffle_write_bytes_per_commit": ("B", "lower"),
        "txlog.live_files_end": ("count", "lower"),
        "txlog.compact_s": ("s", "lower"),
        "txlog.compact_tasks": ("count", "lower"),
        "txlog.read_s": ("s", "lower"),
        "txlog.bootstrap_s": ("s", "lower"),
        "snapshot.total_s": ("s", "lower"),
        "snapshot.rows_per_s": ("1/s", "higher"),
        "snapshot.orders_s": ("s", "lower"),
        "snapshot.lineitem_s": ("s", "lower"),
        "snapshot.output_files": ("count", "lower"),
        "snapshot.bytes_written": ("B", "lower"),
        "validation.jobs_per_table": ("count", "lower"),
        "validation.sink_s": ("s", "lower"),
    }
    for t in CHECKED_TABLES:
        m[f"validation.{t}_s"] = ("s", "lower")
    m["ops.total_s"] = ("s", "lower")
    for q in QUERIES:
        m[f"ops.{q}_s"] = ("s", "lower")
        m[f"ops.{q}_shuffle_bytes"] = ("B", "lower")
        m[f"ops.{q}_task_skew"] = ("ratio", "lower")
    for layer in _SPARK_LAYERS:
        for c in _SPARK_COUNTERS:
            m[f"spark.{layer}.{c}"] = ("ms" if c.endswith("_ms") else "B" if c.endswith("bytes") else "count", "lower")
    for layer in _SELF_LAYERS:
        m[f"self.{layer}_s"] = ("s", "lower")
    m["trace.total_s"] = ("s", "lower")
    return m


def _layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def per_layer_values(ctx, result: dict, spans, groups: dict[str, dict], commits: list[dict]) -> dict[str, float]:
    """Assemble the per-layer metrics of a traced run; a layer the workload
    does not use reads 0."""
    from measure import self_times

    v = {name: 0.0 for name in per_layer_names()}
    v.update(ctx.layer)
    v["trace.total_s"] = result["total_s"]

    for op in ("apply_delta", "apply"):
        d = spans.durations(f"txlog.{op}")
        if d:
            v[f"txlog.{op}_ms_p50"] = statistics.median(d) * 1000.0
            g = groups.get(f"txlog.{op}", {})
            v["txlog.tasks_per_commit"] = g.get("tasks", 0) / len(d)
            v["txlog.shuffle_write_bytes_per_commit"] = g.get("shuffle_write_bytes", 0) / len(d)
    triggers = [s for s in spans.spans if s["name"] == "streaming.trigger"]
    sink_calls = [s for s in spans.spans if s["name"] in ("txlog.apply", "txlog.apply_delta")]
    if triggers:
        v["streaming.overhead_ms_p50"] = statistics.median(
            (t["end"] - t["start"] - sum(
                max(0.0, min(c["end"], t["end"]) - max(c["start"], t["start"])) for c in sink_calls
            )) * 1000.0 for t in triggers
        )
    stream_commits = [c for c in commits if c["operation"] in ("MERGE", "MERGE_DELTA")
                      and c["version"] <= ctx.stream_version]
    if stream_commits:
        n = len(stream_commits)
        v["txlog.files_added_per_commit"] = sum(c["adds"] for c in stream_commits) / n
        v["txlog.files_removed_per_commit"] = sum(c["removes"] for c in stream_commits) / n
        v["txlog.bytes_added_per_event"] = sum(c["bytes_added"] for c in stream_commits) / ctx.stream_events
        v["txlog.live_files_end"] = stream_commits[-1]["live_files"]
    v["txlog.compact_tasks"] = groups.get("txlog.compact", {}).get("tasks", 0)

    validation = [g for name, g in groups.items() if name.startswith("validation.")]
    n_checks = len([s for s in spans.spans if s["name"].startswith("validation.")])
    if n_checks:
        v["validation.jobs_per_table"] = sum(g["jobs"] for g in validation) / n_checks
    for name, g in groups.items():
        if name.startswith("ops."):
            v[f"{name}_shuffle_bytes"] = g["shuffle_write_bytes"]
            v[f"{name}_task_skew"] = g["task_skew"]
    v["ops.total_s"] = sum(val for k, val in ctx.layer.items() if k.startswith("ops.") and k.endswith("_s"))
    for name, g in groups.items():
        layer = _layer_of(name)
        if layer in _SPARK_LAYERS:
            for c in _SPARK_COUNTERS:
                v[f"spark.{layer}.{c}"] += g[c]
    for layer, secs in self_times(spans.spans, _layer_of).items():
        if layer in _SELF_LAYERS:
            v[f"self.{layer}_s"] = secs
    return v


def _session(work: str, traced: bool):
    from cdc_connector_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fully resident heap keeps peak memory from following GC sizing
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:+AlwaysPreTouch -Dderby.system.home={work}",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", master="local[2]", shuffle_partitions=2, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (``SparkSession.stop`` alone leaves the gateway JVM running until this
    process ends)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "cdc_connector_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("error: run from the repository root (cdc_connector_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from measure import PeakRss, SpanRecorder, percentile, reduce_event_log, reduce_txlog
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("error: --seconds must be at least 1", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    out = os.path.join(root, ".perfbench_out", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    # Python workers import the package by name; temp files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"

    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = _session(work, bool(args.trace))
            session_s = time.perf_counter() - t0
            spans = SpanRecorder(run_id, spark.sparkContext if args.trace else None)
            ctx = Context(spark, work, args.seed, args.seconds, spans, bool(args.trace))
            with spans.span("bench.run"):
                result = WORKLOADS[args.workload](ctx)
            sink_path = result["sink"].path if result["sink"] is not None else None
            _stop(spark)
            spark = None
        spans.dump(os.path.join(out, "spans.json"))

        lag = result["lag"]
        p50, p90 = percentile(lag, 50), percentile(lag, 90)
        if p50 is None or p90 is None:
            print(f"error: {len(lag)} lag samples are too few for a p90", file=sys.stderr)
            return 1
        if args.trace:
            groups = reduce_event_log(os.path.join(work, "eventlog"), spans.spans)
            commits = reduce_txlog(sink_path) if sink_path else []
            with open(os.path.join(out, "reduced.json"), "w") as f:
                json.dump({"job_groups": groups, "commits": commits}, f)
            values = per_layer_values(ctx, result, spans, groups, commits)
            metrics = {k: {"value": float(values[k]), "unit": u} for k, (u, _) in per_layer_names().items()}
        else:
            values = {
                "setup_s": session_s + result["setup_s"],
                "peak_rss_mb": rss.peak_bytes / 2**20,
                "ok_frac": 1.0 - result["failed"] / result["attempted"],
                "lag_p50_ms": p50,
                "lag_p90_ms": p90,
                "reconcile_s": result["reconcile_s"],
                "total_s": result["total_s"],
            }
            metrics = {k: {"value": float(values[k]), "unit": u} for k, (u, _) in END_TO_END.items()}
        print(f"# {run_id}: {len(lag)} lag samples", file=sys.stderr)
        print(json.dumps({
            "correct": result["failed"] == 0,
            "attempted": int(result["attempted"]),
            "failed": int(result["failed"]),
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

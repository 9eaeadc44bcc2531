"""Measurement helpers: spans, percentiles, the lag join, and reducers.

Everything here reads either values the benchmark recorded itself or
artifacts a run leaves on disk (the Spark event log, the sink's ``_log``
directory, the stream checkpoint). Nothing here calls into the program.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank q-th percentile (0 < q < 100), or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it (a p90 needs 100 samples)."""
    n = len(values)
    if n == 0 or n * (100 - q) / 100 < MIN_BEYOND:
        return None
    s = sorted(values)
    rank = max(1, -(-n * q // 100))  # ceil(n*q/100)
    return float(s[int(rank) - 1])


class SpanRecorder:
    """In-memory spans (name, start, end, parent, run id), dumped at the end.

    ``span()`` nests per thread: a span opened while another is open on the
    same thread records that one as its parent. With a SparkContext given,
    each span also tags the Spark jobs it launches with its name as the job
    group, so the event log can be reduced per span."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        """Time the block as span ``name``. ``parent`` names the enclosing
        span when it lives on another thread (a stream trigger)."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None and stack:
            parent = stack[-1]
        stack.append(name)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(stack[-1], stack[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.add(name, start, end, parent)

    def add(self, name: str, start: float, end: float, parent: str | None) -> None:
        """Record a span observed rather than timed here."""
        with self._lock:
            self.spans.append({
                "name": name, "start": start, "end": end,
                "parent": parent, "run_id": self.run_id,
            })

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict], layer_of) -> dict[str, float]:
    """Seconds per layer of span time not covered by child spans.
    ``layer_of(name)`` maps a span name to its layer."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_length(
            [(max(c["start"], s["start"]), min(c["end"], s["end"]))
             for c in children.get(s["name"], [])
             if c["start"] < s["end"] and c["end"] > s["start"]]
        )
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- stream progress and the lag join -----------------------------------------

def checkpoint_batches(checkpoint_dir: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log
    ``<ckpt>/sources/0/<batchId>`` (a version line, then one JSON entry per
    file the batch took). Every few batches the log is compacted into
    ``<batchId>.compact``, which repeats the entries of all earlier batches."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        name = os.path.basename(path)
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def progress_rows(progress: list) -> list[dict]:
    """Plain dicts from ``StreamingQuery.recentProgress`` entries."""
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in progress]


def batch_end_times(progress: list[dict]) -> dict[int, float]:
    """Batch id -> epoch seconds at which its trigger ended (progress
    ``timestamp``, the trigger start, plus ``triggerExecution``). Only
    batches that read input count; idle progress reports are skipped."""
    out: dict[int, float] = {}
    for p in progress:
        if not p.get("numInputRows"):
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out[int(p["batchId"])] = start + p["durationMs"]["triggerExecution"] / 1000.0
    return out


def lag_samples(
    files: list[tuple[str, float, int]],
    file_batch: dict[str, int],
    batch_end: dict[int, float],
) -> list[float]:
    """Milliseconds from due to visible, one sample per event.

    ``files`` lists (file name, due time in epoch seconds, event count);
    each event in a file is visible when the trigger of the batch that read
    the file ended. Raises when a file was never read or its batch has no
    progress report: every event must be accounted for."""
    out: list[float] = []
    for name, due, n in files:
        end = batch_end[file_batch[name]]
        out.extend([(end - due) * 1000.0] * n)
    return out


# -- event log reducer ---------------------------------------------------------

def reduce_event_log(log_dir: str, spans: list[dict] = ()) -> dict[str, dict]:
    """Per Spark job group: jobs, stages, tasks, executor run ms, shuffle read and
    write bytes, spill bytes, and task-time skew (slowest over median).
    Reads the JSON-lines event log files Spark writes under ``log_dir``
    (one file, or a directory of rolled files).

    A job without a group was started from a thread the benchmark does not
    own (``snapshot_database`` submits from a thread pool); it goes to the
    shortest of ``spans`` open at its submission time, else to
    ``untagged``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[dict]] = {}
    paths = sorted(
        os.path.join(d, name) for d, _, names in os.walk(log_dir) for name in names
        if not name.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") \
                        or _enclosing_span(spans, ev.get("Submission Time", 0) / 1000.0)
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    out: dict[str, dict] = {
        g: {"jobs": n, "stages": 0, "tasks": 0, "executor_run_ms": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "_durs": []}
        for g, n in jobs.items()
    }
    for sid, ts in tasks.items():
        g = out[stage_group[sid]]
        g["stages"] += 1
        g["tasks"] += len(ts)
        g["executor_run_ms"] += sum(t["run_ms"] for t in ts)
        g["shuffle_read_bytes"] += sum(t["shuffle_read"] for t in ts)
        g["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in ts)
        g["spill_bytes"] += sum(t["spill"] for t in ts)
        g["_durs"].extend(t["dur_ms"] for t in ts)
    for g in out.values():
        durs = g.pop("_durs")
        med = statistics.median(durs) if durs else 0
        g["task_skew"] = (max(durs) / med) if med > 0 else 1.0
    return out


def _enclosing_span(spans, t: float) -> str:
    open_at = [s for s in spans if s["start"] <= t <= s["end"]]
    if not open_at:
        return "untagged"
    return min(open_at, key=lambda s: s["end"] - s["start"])["name"]


# -- transaction log reducer ---------------------------------------------------

def reduce_txlog(sink_path: str) -> list[dict]:
    """One record per commit of a ``TxLogMergeSink`` table, in version
    order: operation, files added (delta or base), files removed, bytes
    added, and the live file count after the commit."""
    commits = []
    live: set[str] = set()
    for path in sorted(glob.glob(os.path.join(sink_path, "_log", "*.json"))):
        name = os.path.basename(path)
        if not name[:-5].isdigit():
            continue
        rec = {"version": int(name[:-5]), "operation": None, "adds": 0, "delta_adds": 0,
               "removes": 0, "bytes_added": 0}
        with open(path) as f:
            for line in f:
                a = json.loads(line)
                if "add" in a:
                    rec["adds"] += 1
                    rec["delta_adds"] += bool(a["add"].get("delta"))
                    rec["bytes_added"] += a["add"].get("size", 0)
                    live.add(a["add"]["path"])
                elif "remove" in a:
                    rec["removes"] += 1
                    live.discard(a["remove"]["path"])
                elif "commitInfo" in a:
                    rec["operation"] = a["commitInfo"].get("operation")
        rec["live_files"] = len(live)
        commits.append(rec)
    return commits


# -- memory --------------------------------------------------------------------

class PeakRss:
    """Samples the memory of this process and all its descendants (the Spark
    JVM and Python workers are children) and keeps the peak.

    Each process counts its proportional set size (``Pss`` in
    ``/proc/<pid>/smaps_rollup``): resident memory with shared pages split
    among their sharers. Plain RSS would count a forked child of the JVM —
    Hadoop's local file system forks for ``chmod`` — as a second JVM.
    Reading ``smaps_rollup`` of a GB-sized JVM takes about 20 ms, so the
    tree is sampled once a second, not more often."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_bytes())
            self._stop.wait(self.interval_s)

    def tree_bytes(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo.extend(children.get(pid, []))
        return total


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process ended between listing and reading
    return 0

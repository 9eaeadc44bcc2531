"""Live round-trip replication probe — `tests/test_cdc_live.py` analogue (ST10).

The reference picks a random source row, updates a safe column, waits ≤10 s,
and verifies the change arrived at the sink (test_cdc_live.py:214-324). Here
the probe injects a synthetic update event into the changelog source dir,
runs the stream to catch-up, and measures end-to-end propagation:

    probe = LiveProbe(spark, stream, sink)
    result = probe.run()     # {'propagated': True, 'latency_s': 0.8, ...}

Used as a library by tests and deployable as a cron health check; the 10 s
expectation (test_cdc_live.py:333) maps to asserting latency_s <= deadline.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import functions as F

from cdc_connector_spark.changelog.envelope import envelope_schema
from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.streaming.pipeline import ChangelogStream


class LiveProbe:
    def __init__(self, spark, stream: ChangelogStream, sink: TxLogMergeSink, value_col: str = "val") -> None:
        self.spark = spark
        self.stream = stream
        self.sink = sink
        self.value_col = value_col

    def _pick_row(self):
        """Random existing row (ORDER BY RAND() LIMIT 1 analogue, W3)."""
        df = self.sink.read()
        if df is None:
            return None
        rows = df.orderBy(F.rand(seed=None)).limit(1).collect()
        return rows[0] if rows else None

    def run(self, deadline_s: float = 10.0) -> dict:
        """Inject marker update for a random key → run stream → verify."""
        row = self._pick_row()
        if row is None:
            return {"propagated": False, "error": "sink empty"}
        marker = f"CDC_TEST_{uuid.uuid4().hex[:12]}"
        key = {c: row[c] for c in self.sink.key_cols}
        after = row.asDict()
        after[self.value_col] = marker

        now_ms = int(time.time() * 1000)
        env = self.spark.createDataFrame(
            [(row.asDict(), after, "u", now_ms, "probe", "probe", now_ms)],
            envelope_schema(self.sink.read().schema),
        )
        env.coalesce(1).write.mode("append").parquet(self.stream.source_dir)

        t0 = time.time()
        self.stream.run_until_caught_up(timeout_s=int(deadline_s * 12))
        latency = time.time() - t0

        got = self.sink.read()
        for c, v in key.items():
            got = got.filter(F.col(c) == v)
        vals = [r[self.value_col] for r in got.collect()]
        ok = vals == [marker]
        return {
            "propagated": ok,
            "latency_s": round(latency, 3),
            "within_deadline": ok and latency <= deadline_s,
            "key": {k: str(v) for k, v in key.items()},
            "marker": marker,
        }

"""Structured-Streaming changelog pipeline.

Spark-first replacement for the reference's Kafka-Connect plane (SURVEY.md
§3.2): ``readStream`` over an envelope stream (file source here; the same
code takes Kafka with ``format("kafka")`` + ``parse_json_envelope``) →
flatten (P1) → per-table SMT analogues (P2/P3) → ``foreachBatch`` MERGE
applier (W5 + ST2) into a TxLogMergeSink, with:

- checkpointing per query (ST6)
- quarantine/DLQ for failed batches (ST7): bad batch parks as parquet under
  ``<sink>/_quarantine/batch=<id>`` instead of killing the stream
- idempotence under at-least-once replay (ST1/ST4) from the MERGE semantics
- progress/liveness via StreamingQuery.lastProgress (ST5 heartbeat analogue)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from cdc_connector_spark.changelog.envelope import apply_casts, apply_renames, envelope_schema, flatten_envelope
from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.streaming.commit import foreach_batch


class ChangelogStream:
    """One logical table-stream: envelope source dir → merge sink.

    ``sink`` is a ``TxLogMergeSink`` or any object with
    ``.apply(DataFrame)`` and ``.path`` (``merge_on_read`` also needs
    ``.apply_delta`` and ``.compact``)."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        sink: TxLogMergeSink | "object",
        row_schema: T.StructType,
        key_cols: list[str],
        checkpoint_dir: str,
        renames: dict[str, str] | None = None,
        casts: dict[str, str] | None = None,
        max_files_per_trigger: int = 100,
        merge_on_read: bool = False,
        compact_every: int = 20,
        ddl_ops: list | None = None,
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.sink = sink
        self.row_schema = row_schema
        self.key_cols = key_cols
        self.checkpoint_dir = checkpoint_dir
        self.renames = renames or {}
        self.casts = casts or {}
        self.max_files_per_trigger = max_files_per_trigger
        # merge-on-read trigger mode (TxLogMergeSink only): each micro-batch
        # lands as O(batch) delta files — minimum trigger latency — and every
        # `compact_every` batches the stream amortizes materialization. The
        # Hudi-style trade for high-frequency CDC into read-cold tables.
        if merge_on_read and not hasattr(sink, "apply_delta"):
            raise ValueError("merge_on_read requires a sink with apply_delta (TxLogMergeSink)")
        self.merge_on_read = merge_on_read
        self.compact_every = compact_every
        # schema-history DDL already applied to the sink (changelog/ddl.py):
        # late events produced under the pre-DDL schema are normalized per
        # batch (rename routed, narrow types cast forward, dropped columns
        # ignored) before the MERGE — the streaming face of ST8+. For a
        # rename, pass ``row_schema`` as the UNION of old and new fields so
        # both event shapes parse; normalize_batch coalesces old into new
        # and drops the old column.
        self.ddl_ops = list(ddl_ops or [])
        self.quarantine_dir = os.path.join(sink.path, "_quarantine")

    def _transform(self, env: DataFrame) -> DataFrame:
        flat = flatten_envelope(env, key_cols=self.key_cols)
        flat = apply_renames(flat, self.renames)
        flat = apply_casts(flat, self.casts)
        if self.ddl_ops:
            from cdc_connector_spark.changelog.ddl import normalize_batch

            flat = normalize_batch(flat, self.ddl_ops)
        return flat

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        try:
            if self.merge_on_read:
                self.sink.apply_delta(self._transform(batch_df))
                # amortized materialization on the trigger cadence; batch_id
                # is checkpoint-stable so the schedule survives restarts
                if self.compact_every and batch_id > 0 and batch_id % self.compact_every == 0:
                    self.sink.compact()
            else:
                self.sink.apply(self._transform(batch_df))
        except Exception:  # noqa: BLE001 — DLQ semantics: tolerate + park (ST7)
            batch_df.write.mode("overwrite").parquet(
                os.path.join(self.quarantine_dir, f"batch={batch_id}")
            )

    def start(self, available_now: bool = True) -> StreamingQuery:
        env = (
            self.spark.readStream.schema(envelope_schema(self.row_schema))
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .parquet(self.source_dir)
        )
        return foreach_batch(env, self._apply_batch, self.checkpoint_dir, available_now)

    def run_until_caught_up(self, timeout_s: int = 300) -> None:
        """Process everything currently in the source dir, then stop (the
        ``trigger(availableNow)`` batch-catchup pattern, O5 analogue)."""
        q = self.start(available_now=True)
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()

    # -- quarantine lifecycle (ST7 continued) -------------------------------

    def quarantined_batch_ids(self) -> list[int]:
        return quarantined_batch_ids(self.quarantine_dir)

    def replay_quarantine(self, batch_id: int | None = None) -> list[int]:
        """Re-apply parked batches through the SAME transform+merge path the
        stream uses (operator fix deployed → replay drains the DLQ). A batch
        that fails again stays parked. Replayed batches are removed; MERGE
        idempotence (ST1) makes a replay-after-partial-crash safe."""
        import shutil

        replayed = []
        ids = [batch_id] if batch_id is not None else self.quarantined_batch_ids()
        for bid in ids:
            bdir = os.path.join(self.quarantine_dir, f"batch={bid}")
            batch = self.spark.read.parquet(bdir)
            self.sink.apply(self._transform(batch))  # raises → stays parked
            shutil.rmtree(bdir)
            replayed.append(bid)
        return replayed

    def vacuum_quarantine(self, retention_s: float = 7 * 24 * 3600.0) -> list[int]:
        return vacuum_quarantine(self.quarantine_dir, retention_s)


def quarantined_batch_ids(quarantine_dir: str) -> list[int]:
    """Batch ids currently parked under ``<sink>/_quarantine/batch=*``."""
    if not os.path.isdir(quarantine_dir):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(quarantine_dir)
        if name.startswith("batch=")
    )


def vacuum_quarantine(quarantine_dir: str, retention_s: float = 7 * 24 * 3600.0) -> list[int]:
    """Drop quarantined batches older than ``retention_s`` (default 7 days —
    a DLQ is a holding pen, not an archive; unreplayed batches past
    retention are operationally dead and their disk should come back).
    Returns the removed batch ids."""
    import shutil
    import time

    removed = []
    now = time.time()
    for bid in quarantined_batch_ids(quarantine_dir):
        bdir = os.path.join(quarantine_dir, f"batch={bid}")
        if now - os.path.getmtime(bdir) > retention_s:
            shutil.rmtree(bdir, ignore_errors=True)
            removed.append(bid)
    return removed


def kafka_changelog_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    row_schema: T.StructType,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S7, Kafka flavor: one topic per table of Debezium-style JSON envelopes
    (connectors/sources/mariadb/trading.json:13-16,68-71) → streaming
    DataFrame of parsed envelopes, drop-in upstream of ``flatten_envelope``.

    The per-key ordering the reference gets from 1-partition topics
    (trading.json:61) is NOT assumed — downstream latest-per-key orders by
    (ts_ms, seq) explicitly, so multi-partition topics are safe here.
    Offset/checkpoint management (ST6): `startingOffsets` for first start,
    then the query's checkpoint owns progress; `maxOffsetsPerTrigger` maps
    the sink batch-size tuning (performance.json:25-30).

    No broker exists in this container, so this builder is exercised by
    parsing tests (``parse_json_envelope``) rather than a live stream —
    the returned plan is identical either way.
    """
    from cdc_connector_spark.changelog.envelope import parse_json_envelope

    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load()
    return parse_json_envelope(raw, row_schema, value_col="value")

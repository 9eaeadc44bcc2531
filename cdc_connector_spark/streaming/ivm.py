"""Continuously-maintained JOIN view over CDC streams.

The Materialize-style capability on top of this engine's CDC plane: two
changelog streams (orders-like and customer-like) keep their
TxLogMergeSink tables current, and a THIRD sink materializes their inner
equi-join — updated per micro-batch with the ``ops/ivm.py`` delta rule,
so a trigger's cost is O(batch · match fan-out), never a re-join of the
full tables. Queries read the view sink directly (snapshot isolation,
time travel, CDF — everything the table format gives every sink).

Per-batch protocol (side = "a" or "b"; each side has its own
``streaming/commit.py`` ``BatchCommitter`` under ``<marker_dir>/<side>``):

1. replay guard — skip if this side's batch marker exists;
2. touched keys from the raw delta (upserts AND delete before-keys);
3. apply the delta to the side's state sink (idempotent MERGE — ST2);
4. view maintenance as a SYNTHESIZED changelog applied to the view sink:
   DELETE rows for every current view pair touching a changed key
   (seq 1), then INSERT the regenerated pairs ``Δ_live ⋈ other_state``
   (seq 2) — latest-per-key ordering makes regenerate-after-delete a
   plain upsert;
5. marker commit.

Effective exactly-once: markers skip fully-committed replays; a crash
between (3) and (5) replays the batch — the side MERGE is idempotent and
step (4) recomputes from the already-updated state, converging to the
same view (delete+reinsert of the same pairs). The view sink's own MERGE
is idempotent under replayed (ts, seq).

The delete-then-reinsert in (4) deliberately OVER-deletes (every pair of
a touched key) and re-derives the survivors from live state — the same
shape as ``ops/ivm.py``'s anti-join, expressed as changelog events so
the view is an ordinary sink table rather than a recomputed DataFrame.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_connector_spark.streaming.commit import BatchCommitter, foreach_batch


class StreamingJoinView:
    """foreachBatch appliers maintaining ``view = A ⋈ B`` (inner, equi).

    ``a_sink`` / ``b_sink`` / ``view_sink`` are merge sinks (duck-typed:
    ``apply``/``read``); the view sink's key_cols must be ``a_pk + b_pk``.
    Join keys may differ from PKs."""

    def __init__(
        self,
        a_sink,
        b_sink,
        view_sink,
        on: list[str],
        a_pk: list[str],
        b_pk: list[str],
        marker_dir: str,
    ) -> None:
        self.a_sink = a_sink
        self.b_sink = b_sink
        self.view_sink = view_sink
        self.on = on
        self.a_pk = a_pk
        self.b_pk = b_pk
        self.marker_dir = marker_dir
        # Both sides' foreachBatch callbacks run as driver threads on THIS
        # shared object; the lock serializes whole batches so each side's
        # regen reads the other side's POST-commit state. Without it, a
        # stale regen (read before the other side's concurrent commit,
        # applied after) would overwrite newer view rows — and the sink's
        # optimistic rebase re-applies the same stale payload, so the
        # commit protocol alone cannot repair that. Multi-driver
        # deployments need an external serializer (one union stream, or a
        # storage-level lock); single-driver is the supported shape.
        self._lock = threading.Lock()
        self.committers = {
            side: BatchCommitter(os.path.join(marker_dir, side)) for side in ("a", "b")
        }

    # -- view-delta synthesis ----------------------------------------------

    def _view_changelog(self, touched: DataFrame, pk: list[str], regen: DataFrame) -> DataFrame:
        """Deletes for every current view pair of a touched key (seq 1) +
        upserts for the regenerated pairs (seq 2)."""
        view_cols = self.view_sink.read().columns
        stale = self.view_sink.read().join(touched, pk, "left_semi")
        dels = stale.select(
            *view_cols,
            F.lit("d").alias("__op"),
            F.lit(0).cast("bigint").alias("__ts_ms"),
            F.lit("ivm").alias("__source_db"),
            F.lit("view").alias("__source_table"),
            F.lit(1).cast("bigint").alias("__seq"),
        )
        ups = regen.select(
            *view_cols,
            F.lit("u").alias("__op"),
            F.lit(0).cast("bigint").alias("__ts_ms"),
            F.lit("ivm").alias("__source_db"),
            F.lit("view").alias("__source_table"),
            F.lit(2).cast("bigint").alias("__seq"),
        )
        return dels.unionByName(ups)

    # -- appliers (pass to foreachBatch of each side's stream) -------------

    def _process(self, side: str, delta: DataFrame, batch_id: int) -> None:
        sink, pk, other = (
            (self.a_sink, self.a_pk, self.b_sink)
            if side == "a"
            else (self.b_sink, self.b_pk, self.a_sink)
        )
        committer = self.committers[side]
        with self._lock:
            if committer.done(batch_id):
                return
            delta = delta.persist()
            touched = delta.select(*pk).distinct().persist()
            try:
                sink.apply(delta)
                regen = sink.read().join(touched, pk, "left_semi").join(other.read(), self.on)
                self.view_sink.apply(self._view_changelog(touched, pk, regen))
                committer.commit(batch_id)
            finally:
                touched.unpersist()
                delta.unpersist()

    def process_a_batch(self, delta: DataFrame, batch_id: int) -> None:
        self._process("a", delta, batch_id)

    def process_b_batch(self, delta: DataFrame, batch_id: int) -> None:
        self._process("b", delta, batch_id)

    def view(self) -> DataFrame:
        return self.view_sink.read()

    # -- stream wiring ------------------------------------------------------

    def start_a(self, stream: DataFrame, checkpoint_dir: str, available_now: bool = True):
        """Attach side A's changelog stream (flattened-envelope rows).
        Each side runs as its OWN streaming query with its own checkpoint;
        the shared instance lock serializes whole batches across the two
        queries (see __init__) so every regen reads post-commit state."""
        return foreach_batch(stream, self.process_a_batch, checkpoint_dir, available_now)

    def start_b(self, stream: DataFrame, checkpoint_dir: str, available_now: bool = True):
        return foreach_batch(stream, self.process_b_batch, checkpoint_dir, available_now)

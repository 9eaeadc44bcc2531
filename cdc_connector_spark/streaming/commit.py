"""Exactly-once for the ``foreachBatch`` appliers: one batch-id-keyed commit
protocol and one stream wiring, shared by every streaming monitor, the
dedup and export loops, the join view and ``ChangelogStream``.

Structured Streaming replays a micro-batch under the SAME batch id after
a crash, so a replayable source plus a sink that is idempotent per batch
id gives exactly-once state (Armbrust et al., *Structured Streaming*,
SIGMOD 2018). The sink half is ``BatchCommitter``:

- state for batch N is written to its own ``<root>/<kind>_batch=N``
  directory (``dir``; an overwrite, so a rerun is idempotent);
- the empty marker ``<root>/_committed/N`` lands LAST (``commit``); a
  replayed batch short-circuits on it (``done``);
- readers see only marker-committed state (``committed``,
  ``read_latest``), so a crash between the write and the marker leaves
  an invisible directory that the rerun overwrites;
- after the marker, snapshots of the listed kinds older than N - 1 are
  pruned: the immediately previous state is kept as the crash cushion
  (a rerun of an uncommitted N+1 reads it). Markers are never deleted —
  they are empty files and replay short-circuiting needs every one.

Append-only outputs (dedup's ``batch=N``, export's ``data/batch=N``,
component label deltas) are not listed, so every batch's copy is kept.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


class BatchCommitter:
    """The marker-commit protocol over one state root. ``kinds`` names the
    per-batch snapshot directories ``commit`` prunes."""

    def __init__(self, root: str, kinds: tuple[str, ...] = ()) -> None:
        self.root = root
        self.kinds = kinds

    def marker(self, batch_id: int) -> str:
        return os.path.join(self.root, "_committed", str(batch_id))

    def done(self, batch_id: int) -> bool:
        """True when ``batch_id`` is committed — the replay short-circuit."""
        return os.path.exists(self.marker(batch_id))

    def committed(self) -> list[int]:
        d = os.path.join(self.root, "_committed")
        if not os.path.isdir(d):
            return []
        return sorted(int(n) for n in os.listdir(d) if n.isdigit())

    def dir(self, kind: str, batch_id: int) -> str:
        return os.path.join(self.root, f"{kind}_batch={batch_id}")

    def read_latest(self, spark, kind: str) -> DataFrame | None:
        """The ``kind`` snapshot of the newest committed batch, or None
        before the first commit."""
        done = self.committed()
        if not done:
            return None
        return spark.read.parquet(self.dir(kind, done[-1]))

    def commit(self, batch_id: int) -> None:
        """Write the marker (last, after the batch's state), then prune."""
        os.makedirs(os.path.dirname(self.marker(batch_id)), exist_ok=True)
        with open(self.marker(batch_id), "w") as fh:
            fh.write("")
        for old in self.committed():
            if old < batch_id - 1:
                for kind in self.kinds:
                    shutil.rmtree(self.dir(kind, old), ignore_errors=True)


def foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start ``stream`` with ``fn`` as its ``foreachBatch`` applier: one
    checkpoint per query, update mode, and ``availableNow`` (drain what
    is there, then stop) unless ``available_now`` is False."""
    writer = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

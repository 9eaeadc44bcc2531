"""Custom stateful streaming operator: continuous latest-row-per-key.

The ``foreachBatch``+MERGE applier (changelog/txlog.py) materializes the CDC
state into a table per micro-batch. This module is the other idiomatic
option — ``applyInPandasWithState`` keeps the latest row per key in Spark's
keyed state store and EMITS the updated rows each trigger, so downstream
consumers see a continuous changelog of current values without re-reading
the sink table.

Semantics match changelog/apply.py::latest_per_key (W5/ST2/ST3): events
ordered by (ts_ms, seq) within key; op='d' deletes the key (emits a
tombstone row with __deleted=true). State per key is one row — bounded by
key cardinality, the same bound the reference's compacted Kafka topics give
(connectors/sources/mariadb/trading.json:62).

Tombstone memory (r13 review, stated): clearing state on delete forgets
the delete's (ts, seq) — a LATER batch delivering a stale pre-delete
event for that key would re-create it. That is the same contract as the
batch MERGE plane (the sink holds no tombstones either): cross-batch
per-key ordering is the SOURCE's responsibility (ST3 — the reference
gets it from 1-partition topics, this engine from (commit_ts, lsn)
ordering), and within a batch the sort makes the delete win. A source
that can deliver stale per-key events across batch boundaries needs a
tombstone-retention table in front of either plane.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def latest_state_stream_tws(
    flat: DataFrame,
    key_cols: list[str],
    ts_col: str = "__ts_ms",
    seq_col: str = "__seq",
    op_col: str = "__op",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Same semantics as ``latest_state_stream`` on the Spark 4
    ``transformWithStateInPandas`` API: typed ValueState per key with
    optional TTL — idle keys' state evicts after ``state_ttl_ms``, the knob
    the older applyInPandasWithState API lacks. At 100 TB key cardinality,
    TTL is what keeps the state store bounded when the key space churns."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    data_cols = [c for c in flat.columns if c not in key_cols]
    ordered = key_cols + data_cols
    out_schema = T.StructType(
        [flat.schema[c] for c in ordered] + [T.StructField("__deleted", T.BooleanType(), False)]
    )
    state_schema = T.StructType([flat.schema[c] for c in ordered])

    class LatestPerKey(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("latest", state_schema, state_ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            batch = pd.concat(list(rows), ignore_index=True)
            batch = batch.sort_values([ts_col, seq_col], kind="mergesort")
            newest = batch.iloc[-1]
            if self._state.exists():
                cur = dict(zip(ordered, self._state.get()))
                if (cur[ts_col], cur[seq_col]) >= (newest[ts_col], newest[seq_col]):
                    return iter(())  # stale replay — no-op
            row = {c: newest[c] for c in ordered}
            if newest[op_col] == "d":
                self._state.clear()
                row["__deleted"] = True
            else:
                self._state.update(tuple(newest[c] for c in ordered))
                row["__deleted"] = False
            yield pd.DataFrame([row], columns=ordered + ["__deleted"])

        def close(self) -> None:
            pass

    return flat.groupBy(*key_cols).transformWithStateInPandas(
        LatestPerKey(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def latest_state_stream(
    flat: DataFrame,
    key_cols: list[str],
    ts_col: str = "__ts_ms",
    seq_col: str = "__seq",
    op_col: str = "__op",
) -> DataFrame:
    """Continuous latest-per-key over a flattened changelog stream.

    Each trigger emits, per key seen in the batch, the current winning row
    (greatest (ts, seq), delete-aware). Use ``outputMode("update")``.
    """
    data_cols = [c for c in flat.columns if c not in key_cols]
    out_schema = T.StructType(
        [flat.schema[c] for c in key_cols]
        + [flat.schema[c] for c in data_cols]
        + [T.StructField("__deleted", T.BooleanType(), False)]
    )
    # state = the winning row as a tuple in out-schema order (minus __deleted)
    state_schema = T.StructType([flat.schema[c] for c in key_cols] + [flat.schema[c] for c in data_cols])
    ordered = key_cols + data_cols

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col, seq_col], kind="mergesort")
        newest = batch.iloc[-1]
        if state.exists:
            cur = dict(zip(ordered, state.get))
            if (cur[ts_col], cur[seq_col]) >= (newest[ts_col], newest[seq_col]):
                return iter(())  # stale batch (at-least-once replay) — no-op
        if newest[op_col] == "d":
            state.remove()
            row = {c: newest[c] for c in ordered}
            row["__deleted"] = True
        else:
            state.update(tuple(newest[c] for c in ordered))
            row = {c: newest[c] for c in ordered}
            row["__deleted"] = False
        yield pd.DataFrame([row], columns=ordered + ["__deleted"])

    return flat.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

"""Changelog-apply: the engine's core custom operator (SURVEY.md §2.5 W5 + §2.7 ST2).

Semantics (matching the reference's upsert sink,
connectors/sinks/postgres/trading.json:13-15, under at-least-once delivery,
tests/validation.py:8-12):

1. Within a batch, deduplicate to the LATEST event per key, ordered by
   (ts_ms, seq) descending — never by arrival order (ST3).
2. op ∈ {c,u,r} → upsert; op = 'd' (or tombstone) → delete (ST2).
3. Re-applying any suffix of the log is a no-op (idempotent MERGE) — this is
   what absorbs snapshot↔stream overlap (ST4) and replays.

Implemented as pure DataFrame algebra (max_by aggregate + anti-join + union), so it is
the same code path for batch backfill and ``foreachBatch`` streaming. On a
cluster the anti-join shuffles by key once; with the sink bucketed by key
(see TxLogMergeSink) the shuffle is one-sided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_connector_spark.changelog.envelope import META_COLS, OP_DELETE


def latest_per_key(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str = "__ts_ms",
    seq_col: str = "__seq",
) -> DataFrame:
    """W5: last change event per key wins, ordered by (ts, seq) desc.

    Same-timestamp events are broken by ``seq`` (the log offset) — the
    documented danger case in SURVEY.md §7.

    Shape (r15, skew rehearsal): a two-stage ``max_by(struct(payload),
    struct(ts, seq))`` aggregate, NOT a row_number window. Both reduce
    the hot key map-side (Spark 4 pushes the rn==1 filter down as a
    partial WindowGroupLimit), but the aggregate skips the post-shuffle
    per-partition SORT the window still needs — measured 1.7-1.9×
    faster at 2M and 20M events on both uniform and Zipf(1.2) key
    distributions (tools/skew_rehearsal_r15.py), identical output.
    Tie/NULL semantics match the old window exactly: struct comparison
    orders field-wise with NULL smallest, which is desc-NULLS-LAST's
    preference for non-NULL ts; rows tied on (ts, seq) pick an
    arbitrary winner in both formulations (pass a unique seq for full
    determinism). Equivalence incl. NULLs/ties is pytest-pinned
    (test_changelog_apply.py::test_latest_per_key_matches_window_form).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    agg = changes.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.max_by(F.struct(*payload), F.struct(ts_col, seq_col)).alias("__r")
    )
    # original column order, keys referenced plainly
    return agg.select(
        *[
            F.col(c) if c in key_cols else F.col(f"__r.{c}").alias(c)
            for c in changes.columns
        ]
    )


def apply_changes(
    current: DataFrame | None,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "__op",
    ts_col: str = "__ts_ms",
    seq_col: str = "__seq",
    drop_meta: bool = True,
) -> DataFrame:
    """MERGE semantics over an immutable current state:

    - WHEN MATCHED AND op='d'  → delete
    - WHEN MATCHED             → update (replace row)
    - WHEN NOT MATCHED AND op!='d' → insert

    Returns the new state. ``current=None`` means an empty sink (bootstrap).

    Schema evolution (ST8, the ``schema.evolution: basic`` analogue): a batch
    carrying NEW columns widens the sink — pre-existing rows get NULLs;
    columns missing from the batch survive as NULL on upserted rows.
    """
    latest = latest_per_key(changes, key_cols, ts_col, seq_col)
    upserts = latest.filter(F.col(op_col) != OP_DELETE)
    if drop_meta:
        upserts = upserts.drop(*[c for c in META_COLS if c in upserts.columns])
    if current is None:
        return upserts
    # rows in current whose key is NOT touched by this batch survive;
    # touched keys are replaced by the upsert image (deletes contribute none).
    # The touched-key set comes from the RAW batch, not from `latest`: the
    # dedup window never changes the key set, and deriving keys from changes
    # drops a whole sort+window branch from the merge plan (the anti-join
    # build side becomes a plain distinct).
    keys = changes.select(*key_cols).distinct()
    untouched = current.join(keys, on=key_cols, how="left_anti")
    return untouched.unionByName(upserts, allowMissingColumns=True)

"""Schema-evolution (DDL) semantics beyond additive columns (ST8+).

The reference's streaming plane records every source DDL statement in a
schema-history stream (connectors/sources/mariadb/trading.json:23-37) and
lets the sink evolve additively (``schema.evolution: basic``,
connectors/sinks/postgres/trading.json:17). Additive evolution is already
native to ``apply_changes`` (unionByName with allowMissingColumns). This
module defines the three NON-additive mid-stream changes, with explicit
semantics for late events produced under the pre-DDL schema:

- **Rename** (`RenameColumn`): state is re-projected under the new name;
  late events still carrying the OLD name are normalized batch-side with the
  same P2 rename rule (changelog/envelope.py:79) before applying.
- **Type widen** (`WidenColumn`): state is cast forward along a lossless
  widening lattice (byte→short→int→long, float→double, decimal precision
  growth); batches under either the narrow or wide type apply cleanly.
  Narrowing is rejected — it cannot be replayed idempotently.
- **Drop** (`DropColumn`): the column is removed from state; late events
  still carrying it have it ignored. (The column is tombstoned from the
  logical schema — re-adding a same-named column later is a fresh additive
  column, never a resurrection of old values.)

Renaming or dropping a KEY column is rejected: key identity pins the sink's
bucket layout (the `key_cols`/`num_buckets` table properties in its log) and
would need a full table-version migration, not a projection.

DDL replay is IDEMPOTENT (same contract as the data plane, ST1): an
already-applied rename (old name gone, new name present) or drop (column
gone) is a no-op, so crash-recovery that re-delivers the schema-history
suffix converges to the same state.

Scale note: `apply_ddl` is a pure projection/cast over the state DataFrame
— zero shuffles. On the txlog sink ALL THREE ops are METADATA-ONLY: stable
physical column names live in the log's column mapping (the Delta/Iceberg
design) and widened target types live in its widened-type map (the Delta
type-widening design) — every DDL is one O(1) commit touching zero data
files (txlog.py `TxLogMergeSink.ddl`). Widened tables read through an
explicit schema so the Spark 4 parquet reader's widening promotions
(SPARK-40876: int32->long, float->double, ...) upcast narrow files at scan
time; compaction gradually migrates them. Widening a KEY column is
rejected (xxhash64 is width-sensitive, so the bucket layout would tear).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class RenameColumn:
    old: str
    new: str


@dataclass(frozen=True)
class WidenColumn:
    col: str
    to_type: str  # Spark DDL type string, e.g. "bigint", "decimal(20,4)"


@dataclass(frozen=True)
class DropColumn:
    col: str


DdlOp = Union[RenameColumn, WidenColumn, DropColumn]

# lossless widening ladder for integral/float atomics (MySQL's own ALTER
# ... MODIFY widenings, migrate_v3.py TYPE_MAP targets)
_INT_LADDER = ["tinyint", "smallint", "int", "bigint"]
_FLOAT_LADDER = ["float", "double"]


def _is_widening(src: T.DataType, dst: T.DataType) -> bool:
    s, d = src.simpleString(), dst.simpleString()
    if s == d:
        return True
    if s in _INT_LADDER and d in _INT_LADDER:
        return _INT_LADDER.index(s) < _INT_LADDER.index(d)
    if s in _FLOAT_LADDER and d in _FLOAT_LADDER:
        return _FLOAT_LADDER.index(s) < _FLOAT_LADDER.index(d)
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        # scale must not shrink, and integral digits must not shrink
        return dst.scale >= src.scale and (dst.precision - dst.scale) >= (
            src.precision - src.scale
        )
    if s in _INT_LADDER and isinstance(dst, T.DecimalType):
        # bigint needs decimal(>=19+scale, scale) to be lossless
        need = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}[s]
        return (dst.precision - dst.scale) >= need
    return False


def _check_ops(schema: T.StructType, ops: Sequence[DdlOp], key_cols: Sequence[str]) -> None:
    # Track the EVOLVING name->type map through the op sequence: a widen of a
    # column created by a preceding rename, or a second widen of the same
    # column, must validate against the type at that point in the sequence,
    # not the original schema (otherwise a narrowing cast can slip through
    # and break the documented idempotent-replay invariant).
    types: dict[str, T.DataType] = {f.name: f.dataType for f in schema.fields}
    keys = set(key_cols)
    for op in ops:
        if isinstance(op, RenameColumn):
            if op.old in keys:
                raise ValueError(
                    f"rename of key column {op.old!r} needs a table-version migration "
                    "(key identity pins the bucket layout)"
                )
            if op.old not in types and op.new in types:
                continue  # already applied — DDL replay is idempotent (ST1)
            if op.old not in types:
                raise ValueError(f"rename: no such column {op.old!r}")
            if op.new in types:
                raise ValueError(f"rename: target column {op.new!r} already exists")
            types[op.new] = types.pop(op.old)
        elif isinstance(op, WidenColumn):
            if op.col in keys:
                # xxhash64 hashes int and long to DIFFERENT values, so a
                # widened key would bucket new rows away from their old
                # versions — key identity pins the bucket layout
                raise ValueError(
                    f"widen of key column {op.col!r} needs a table-version "
                    "migration (the bucket hash is width-sensitive)"
                )
            if op.col not in types:
                raise ValueError(f"widen: no such column {op.col!r}")
            src = types[op.col]
            dst = T._parse_datatype_string(op.to_type)
            if not _is_widening(src, dst):
                raise ValueError(
                    f"widen: {op.col!r} {src.simpleString()} -> {dst.simpleString()} is not "
                    "a lossless widening (narrowing cannot replay idempotently)"
                )
            types[op.col] = dst
        elif isinstance(op, DropColumn):
            if op.col in keys:
                raise ValueError(
                    f"drop of key column {op.col!r} needs a table-version migration"
                )
            # a missing column means the drop already applied — replay no-op
            types.pop(op.col, None)
        else:  # pragma: no cover - type guard
            raise TypeError(f"unknown DDL op {op!r}")


def apply_ddl(
    state: DataFrame, ops: Sequence[DdlOp], key_cols: Sequence[str] = ()
) -> DataFrame:
    """Migrate a state DataFrame through a DDL op sequence (projection/cast
    only — zero shuffles). Ops are validated against the CURRENT schema in
    order, so a rename followed by a widen of the new name is legal."""
    _check_ops(state.schema, ops, key_cols)
    out = state
    for op in ops:
        if isinstance(op, RenameColumn):
            if op.old in out.columns:
                out = out.withColumnRenamed(op.old, op.new)
        elif isinstance(op, WidenColumn):
            if op.col in out.columns:
                out = out.withColumn(op.col, F.col(op.col).cast(op.to_type))
        elif isinstance(op, DropColumn):
            out = out.drop(op.col)
    return out


def normalize_batch(batch: DataFrame, ops: Sequence[DdlOp]) -> DataFrame:
    """Normalize a change batch that may have been produced under the
    PRE-DDL schema (at-least-once delivery means late events under the old
    schema are normal, not an error):

    - renamed column present under its old name → renamed (P2 rule);
      if BOTH names appear (mixed producers), old-name values backfill NULL
      new-name values and the old column is dropped
    - widened column → cast forward to the wide type
    - dropped column still present → ignored (dropped)

    Unlike ``apply_ddl`` this never raises on missing columns: a batch is a
    partial view of the schema."""
    out = batch
    for op in ops:
        if isinstance(op, RenameColumn):
            if op.old in out.columns and op.new in out.columns:
                out = out.withColumn(op.new, F.coalesce(F.col(op.new), F.col(op.old))).drop(op.old)
            elif op.old in out.columns:
                out = out.withColumnRenamed(op.old, op.new)
        elif isinstance(op, WidenColumn):
            if op.col in out.columns:
                out = out.withColumn(op.col, F.col(op.col).cast(op.to_type))
        elif isinstance(op, DropColumn):
            if op.col in out.columns:
                out = out.drop(op.col)
    return out


def apply_changes_with_ddl(
    current: DataFrame | None,
    changes: DataFrame,
    key_cols: list[str],
    ddl_ops: Sequence[DdlOp],
    **kwargs,
) -> DataFrame:
    """`apply_changes` with a mid-stream DDL boundary: the existing state is
    migrated (rename/widen/drop), the incoming batch is normalized for late
    pre-DDL events, then standard MERGE semantics run. Replaying the same
    (ddl_ops, batch) pair is idempotent, same as plain apply_changes."""
    from cdc_connector_spark.changelog.apply import apply_changes

    migrated = apply_ddl(current, ddl_ops, key_cols) if current is not None else None
    return apply_changes(migrated, normalize_batch(changes, ddl_ops), key_cols, **kwargs)

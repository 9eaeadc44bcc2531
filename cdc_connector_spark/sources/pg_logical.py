"""LIVE change-data-capture from PostgreSQL logical decoding.

The reference's streaming plane consumes Debezium change events produced
from the database's WAL/binlog (SURVEY.md §1.1; connectors/sources/mariadb/
trading.json). This module is the capture side executed directly against a
real PostgreSQL server: a logical replication slot with the built-in
``test_decoding`` output plugin, drained via psql and parsed into the same
``{before, after, op, ts_ms, source, seq}`` envelope the rest of the engine
speaks — so live DML (INSERT/UPDATE/DELETE) flows WAL → envelope →
``flatten_envelope`` → ``TxLogMergeSink.apply`` with per-key ordering by
(commit-ts, lsn).

Semantics mapped from the WAL:
- op: INSERT→'c', UPDATE→'u', DELETE→'d' (Debezium's codes)
- seq: the change's LSN as a monotonically increasing long — the
  total-order stand-in the reference gets from 1-partition Kafka topics
- ts_ms: the surrounding transaction's COMMIT timestamp
  (``include-timestamp``), epoch millis — all changes of one transaction
  share it, and (ts_ms, seq) preserves commit order
- DELETE rows carry only replica-identity (key) columns → envelope
  ``before`` holds the keys, ``after`` is NULL, matching what
  ``flatten_envelope`` expects for deletes

Scale notes: a replication slot is a single ordered stream (like one
binlog): capture parallelism is per-slot/per-database, while everything
downstream of the envelope is fully distributed. Each ``fetch`` consumes
the slot (peek=False) or leaves it (peek=True) — at-least-once delivery
with the engine's idempotent MERGE giving exactly-once effect (ST1).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from cdc_connector_spark.changelog.envelope import envelope_schema
from cdc_connector_spark.sources.pg_copy import PgConn, _qlit, run_sql

_CHANGE = re.compile(r"^table (\w+)\.(\w+): (INSERT|UPDATE|DELETE): (.*)$")
_COMMIT = re.compile(r"^COMMIT \d+ \(at ([^)]+)\)$")
_BEGIN = re.compile(r"^BEGIN \d+$")
# col[type]:value — value is a ''-escaped quoted string or a bare token.
# The type class must admit everything format_type() can emit: spaces
# ("double precision"), array brackets ("integer[]"), and parameterized
# types with parens/commas ("character varying(20)", "numeric(10,2)",
# "timestamp(3) with time zone") — a narrower class silently drops those
# columns from every change event.
_COLVAL = re.compile(r"(\w+)\[([\w \[\](),]+)\]:('(?:[^']|'')*'|[^ ]+)")

_OP = {"INSERT": "c", "UPDATE": "u", "DELETE": "d"}


def create_slot(conn: PgConn, slot: str) -> None:
    run_sql(conn, f"SELECT pg_create_logical_replication_slot({_qlit(slot)}, 'test_decoding')")


def drop_slot(conn: PgConn, slot: str) -> None:
    run_sql(conn, f"SELECT pg_drop_replication_slot({_qlit(slot)})")


def _lsn_to_long(lsn: str) -> int:
    hi, lo = lsn.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _parse_value(token: str, type_name: str):
    if token == "null":
        return None
    t = type_name.lower()
    # strip the parameter suffix so "numeric(10,2)" / "character varying(20)"
    # resolve to their base type for the dispatch below
    base = t.split("(", 1)[0].strip()
    if token.startswith("'"):
        s = token[1:-1].replace("''", "'")
        if base.startswith("timestamp") or t.startswith("timestamp"):
            return _parse_pg_ts(s)
        if base == "bytea":
            return bytes.fromhex(s[2:]) if s.startswith("\\x") else s.encode()
        return s
    if base in ("smallint", "integer", "bigint", "int2", "int4", "int8", "oid"):
        return int(token)
    if base in ("numeric", "decimal"):
        # exact — pg_table_schema maps numeric(p,s) to DecimalType(p,s) and
        # Spark's DecimalType only accepts decimal.Decimal values
        from decimal import Decimal

        return Decimal(token)
    if base in ("real", "double precision", "float4", "float8"):
        return float(token)
    if base == "boolean":
        return token == "true"
    return token


def _parse_pg_ts(s: str) -> datetime:
    # '2026-08-13 10:23:04.502487+00' (tz offset may be +HH or +HH:MM)
    if re.search(r"[+-]\d{2}$", s):
        s += ":00"
    for fmt in ("%Y-%m-%d %H:%M:%S.%f%z", "%Y-%m-%d %H:%M:%S%z"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"unparseable timestamp {s!r}")


def fetch_changes(
    conn: PgConn,
    slot: str,
    peek: bool = False,
    upto_n: int | None = None,
) -> list[dict]:
    """Drain (or peek) the slot → list of change dicts
    ``{db, table, op, columns, seq, ts_ms}`` in commit order.

    test_decoding emits BEGIN/data/COMMIT lines; the commit timestamp is
    assigned retroactively to the transaction's changes, preserving the
    invariant that (ts_ms, seq) sorts in WAL order."""
    fn = "pg_logical_slot_peek_changes" if peek else "pg_logical_slot_get_changes"
    limit = "NULL" if upto_n is None else str(upto_n)
    out = run_sql(
        conn,
        f"SELECT lsn || E'\\t' || data FROM {fn}({_qlit(slot)}, NULL, {limit}, "
        "'include-timestamp', 'on')",
    )
    pending: list[dict] = []
    changes: list[dict] = []
    for line in out.splitlines():
        if "\t" not in line:
            continue
        lsn, data = line.split("\t", 1)
        if _BEGIN.match(data):
            continue
        mc = _COMMIT.match(data)
        if mc:
            ts = _parse_pg_ts(mc.group(1))
            ts_ms = int(ts.astimezone(timezone.utc).timestamp() * 1000)
            commit_lsn = _lsn_to_long(lsn)
            for ch in pending:
                ch["ts_ms"] = ts_ms
                # the txn's COMMIT record position: the stream-offset unit.
                # (Advancing a slot to a mid-transaction LSN re-emits the
                # whole transaction on the next read — offsets must sit on
                # commit boundaries.)
                ch["commit_lsn"] = commit_lsn
            changes.extend(pending)
            pending = []
            continue
        m = _CHANGE.match(data)
        if not m:
            continue
        schema_name, table, kind, rest = m.groups()
        cols = {
            name: _parse_value(tok, typ) for name, typ, tok in _COLVAL.findall(rest)
        }
        pending.append(
            {
                "db": schema_name,
                "table": table,
                "op": _OP[kind],
                "columns": cols,
                "seq": _lsn_to_long(lsn),
            }
        )
    # a trailing open transaction (no COMMIT seen) is not emitted — it will
    # reappear complete on the next fetch (slot get returns whole txns, so
    # this is defensive)
    return changes


def _long_to_lsn(v: int) -> str:
    return f"{v >> 32:X}/{v & 0xFFFFFFFF:X}"


class PostgresCdcStreamSource(DataSource):
    """``spark.readStream.format("pglogical")`` — live CDC as a REAL
    Structured Streaming source over a logical replication slot.

    Options: host, dbname, user, port, slot, table. Emits ENVELOPE rows
    (before, after, op, ts_ms, source_db, source_table, seq) for the given
    table; pipe through ``flatten_envelope`` + ``foreachBatch`` MERGE.

    Offset design: the offset is the transaction COMMIT LSN. ``read`` PEEKS
    the slot (never consumes) and filters to commits past the start offset,
    so a failed batch replays identically (``readBetweenOffsets``);
    ``commit`` advances the slot's confirmed position — WAL retention is
    bounded by streaming progress, and restarts resume from the last
    committed offset. At-least-once delivery composing with the engine's
    idempotent MERGE = exactly-once effect (ST1), the same contract as the
    reference's Kafka pipeline.
    """

    @classmethod
    def name(cls) -> str:
        return "pglogical"

    def _conn(self) -> PgConn:
        return PgConn(
            host=self.options["host"],
            dbname=self.options.get("dbname", "postgres"),
            user=self.options.get("user", "postgres"),
            port=int(self.options.get("port", "5432")),
        )

    def schema(self) -> T.StructType:
        from cdc_connector_spark.sources.pg_copy import pg_table_schema

        return envelope_schema(pg_table_schema(self._conn(), self.options["table"]))

    def simpleStreamReader(self, schema: T.StructType):
        return _PgCdcStreamReader(self._conn(), self.options, schema)


class _PgCdcStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, conn: PgConn, options, schema: T.StructType):
        self.conn = conn
        self.slot = options["slot"]
        self.table = options["table"]
        self.row_names = [f.name for f in schema["after"].dataType.fields]
        # per-batch peek bound (maps to pg_logical_slot_peek_changes
        # upto_nchanges, which stops on the next txn boundary): without it
        # every micro-batch re-peeks the WHOLE backlog from the slot's
        # confirmed position, so a lagging consumer degrades quadratically.
        # Replay safety: commit() never advances the slot past a batch's end
        # offset, and peek is deterministic from the confirmed position, so
        # readBetweenOffsets with the same bound always re-covers the window.
        self.max_changes = int(options.get("max_changes_per_batch", "10000"))

    def initialOffset(self) -> dict:
        out = run_sql(
            self.conn,
            "SELECT confirmed_flush_lsn FROM pg_replication_slots "
            f"WHERE slot_name = {_qlit(self.slot)}",
        ).strip()
        if not out:
            raise ValueError(f"replication slot {self.slot!r} does not exist")
        return {"lsn": _lsn_to_long(out)}

    def _rows_between(self, start_lsn: int, end_lsn: int | None):
        changes = fetch_changes(self.conn, self.slot, peek=True, upto_n=self.max_changes)
        names = self.row_names
        rows = []
        max_commit = start_lsn
        for ch in changes:
            cl = ch["commit_lsn"]
            max_commit = max(max_commit, cl)
            if ch["table"] != self.table or cl <= start_lsn:
                continue
            if end_lsn is not None and cl > end_lsn:
                continue
            vals = tuple(ch["columns"].get(n) for n in names)
            before = vals if ch["op"] == "d" else None
            after = vals if ch["op"] != "d" else None
            rows.append((before, after, ch["op"], ch["ts_ms"], ch["db"], ch["table"], ch["seq"]))
        return rows, max_commit

    def read(self, start: dict):
        rows, max_commit = self._rows_between(start["lsn"], None)
        return iter(rows), {"lsn": max_commit}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._rows_between(start["lsn"], end["lsn"])
        return iter(rows)

    def commit(self, end: dict) -> None:
        if end["lsn"]:
            run_sql(
                self.conn,
                f"SELECT pg_replication_slot_advance({_qlit(self.slot)}, "
                f"{_qlit(_long_to_lsn(end['lsn']))}::pg_lsn)",
            )


def run_cdc_poll(
    spark: SparkSession,
    conn: PgConn,
    slot: str,
    sink,
    row_schema: T.StructType,
    table: str,
    key_cols: list[str],
    max_polls: int = 1,
    poll_interval_s: float = 0.5,
    on_progress=None,
) -> int:
    """Micro-batch CDC loop (O5/ST5 live analogue): each poll drains the
    slot, converts to the envelope, and MERGEs into ``sink`` (any object
    with ``.apply``, e.g. TxLogMergeSink). ``on_progress`` receives a
    heartbeat dict per poll — the liveness hook the reference surfaces via
    connector status. Returns total events applied. Empty polls are cheap
    (one psql round trip), so the interval tunes end-to-end latency the
    same way the sink's batch cadence does in the reference."""
    import time

    from cdc_connector_spark.changelog.envelope import flatten_envelope

    applied = 0
    for i in range(max_polls):
        changes = fetch_changes(conn, slot)
        if changes:
            env = changes_to_envelope(spark, changes, row_schema, table)
            sink.apply(flatten_envelope(env, key_cols=key_cols))
            applied += len(changes)
        if on_progress is not None:
            on_progress({"poll": i, "events": len(changes), "total_applied": applied})
        if i < max_polls - 1:
            time.sleep(poll_interval_s)
    return applied


def changes_to_envelope(
    spark: SparkSession,
    changes: list[dict],
    row_schema: T.StructType,
    table: str | None = None,
) -> DataFrame:
    """Parsed WAL changes → typed envelope DataFrame (the same frame
    ``parse_json_envelope`` yields from Kafka), ready for
    ``flatten_envelope`` + sink apply."""
    names = [f.name for f in row_schema.fields]

    def row_of(cols: dict):
        return tuple(cols.get(n) for n in names)

    rows = []
    for ch in changes:
        if table is not None and ch["table"] != table:
            continue
        before = row_of(ch["columns"]) if ch["op"] == "d" else None
        after = row_of(ch["columns"]) if ch["op"] != "d" else None
        rows.append((before, after, ch["op"], ch["ts_ms"], ch["db"], ch["table"], ch["seq"]))
    return spark.createDataFrame(rows, envelope_schema(row_schema))

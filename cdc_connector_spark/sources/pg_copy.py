"""Live PostgreSQL source/sink over the COPY protocol (Spark Python
DataSource API).

The reference's entire runtime is a live database migration: chunked range
reads from the source DB (migrate_v3.py:570-680) and COPY bulk loads into
PostgreSQL (migrate_v3.py:770-818). This environment has PostgreSQL server
and client binaries but no JDBC driver jar and no Python DB driver — so the
live path speaks COPY through ``psql`` subprocesses:

- **Read**: ``spark.dataSource.register(PostgresCopyDataSource)`` then
  ``spark.read.format("pgcopy").options(...).load()``. ``partitions()``
  plans closed pk ranges from one min/max/count pass (S3), every Spark task
  COPYs its own range — the same parallel-chunk shape as the reference but
  range-predicated, never LIMIT/OFFSET. Supported relational filters are
  pushed INTO the database via ``pushFilters`` (predicate pushdown reaches
  the source, not just the scan).
- **Write**: ``copy_to_postgres(df, ...)`` pipes Arrow batches as CSV into
  one ``psql … COPY FROM STDIN`` per partition on the executors — the
  reference's 10-chunk-worker COPY loader, distributed.

On a standard cluster with the postgres JDBC jar on the classpath,
``snapshot.planner.jdbc_read_options`` expresses the identical partitioned
plan through Spark's native JDBC source; this module exists so live
execution is real in jar-less environments, with the same plan shape.

Scale notes: ranges are planned from live table stats; per-task state is
one OS pipe + a streaming CSV parse (constant memory via chunked reads);
NULLs travel as an explicit ``\\N`` token so empty strings round-trip.
"""

from __future__ import annotations

import csv
import io
import os
import subprocess
from dataclasses import dataclass
from decimal import Decimal
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)

_PSQL_ENV = {"PGTZ": "UTC", "PGCLIENTENCODING": "UTF8", "PGCONNECT_TIMEOUT": "10"}


@dataclass(frozen=True)
class PgConn:
    """Connection identity for psql: ``host`` may be a hostname or a unix
    socket directory (leading ``/``)."""

    host: str
    dbname: str = "postgres"
    user: str = "postgres"
    port: int = 5432

    def argv(self) -> list[str]:
        return [
            "psql", "-X", "-v", "ON_ERROR_STOP=1",
            "-h", self.host, "-p", str(self.port),
            "-U", self.user, "-d", self.dbname,
        ]

    def options(self) -> dict[str, str]:
        return {
            "host": self.host,
            "dbname": self.dbname,
            "user": self.user,
            "port": str(self.port),
        }


def _env() -> dict[str, str]:
    env = dict(os.environ)
    env.update(_PSQL_ENV)
    return env


def run_sql(conn: PgConn, sql: str, tuples: bool = True) -> str:
    """Execute one statement via psql; return stdout (``-At`` tuple form)."""
    argv = conn.argv() + (["-At"] if tuples else []) + ["-c", sql]
    out = subprocess.run(argv, capture_output=True, text=True, env=_env(), timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"psql failed: {out.stderr.strip()[:500]}")
    return out.stdout


def _qident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _qlit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, Decimal)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


# ---- schema introspection (S6, live flavor) --------------------------------

def pg_to_spark_type(data_type: str, precision, scale) -> T.DataType:
    """information_schema.columns → Spark type (the PostgreSQL face of the
    MySQL map in functions/types.py; same SURVEY §1.2 conventions)."""
    s = data_type.strip().lower()
    if s in ("smallint", "int2"):
        return T.ShortType()
    if s in ("integer", "int", "int4"):
        return T.IntegerType()
    if s in ("bigint", "int8"):
        return T.LongType()
    if s in ("real", "float4"):
        return T.FloatType()
    if s in ("double precision", "float8"):
        return T.DoubleType()
    if s == "numeric":
        return T.DecimalType(int(precision or 38), int(scale or 0))
    if s == "boolean":
        return T.BooleanType()
    if s == "date":
        return T.DateType()
    if s.startswith("timestamp with"):
        return T.TimestampType()
    if s.startswith("timestamp"):
        return T.TimestampNTZType()
    if s == "bytea":
        return T.BinaryType()
    return T.StringType()


def spark_to_pg_type(dt: T.DataType) -> str:
    if isinstance(dt, T.ShortType):
        return "smallint"
    if isinstance(dt, T.IntegerType):
        return "integer"
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.DoubleType):
        return "double precision"
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamp with time zone"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "bytea"
    return "text"


def pg_table_schema(conn: PgConn, table: str) -> T.StructType:
    out = run_sql(
        conn,
        "SELECT column_name, data_type, numeric_precision, numeric_scale "
        "FROM information_schema.columns "
        f"WHERE table_name = {_qlit(table)} AND table_schema = 'public' "
        "ORDER BY ordinal_position",
    )
    fields = []
    for line in out.splitlines():
        name, dtype, prec, scale = line.split("|")
        fields.append(
            T.StructField(name, pg_to_spark_type(dtype, prec or None, scale or None))
        )
    if not fields:
        raise ValueError(f"table {table!r} not found (or has no columns)")
    return T.StructType(fields)


def pg_range_stats(conn: PgConn, table: str, pk_col: str) -> tuple[int | None, int | None, int]:
    """min/max/count in ONE statement (S3 live; the reference issues
    separate ones, migrate_v3.py:530-539)."""
    out = run_sql(
        conn,
        f"SELECT min({_qident(pk_col)}), max({_qident(pk_col)}), count(*) FROM {_qident(table)}",
    ).strip()
    lo, hi, n = out.split("|")
    return (int(lo) if lo else None, int(hi) if hi else None, int(n))


# ---- index / FK capture (migrate_v3.py:307-369 live analogue) --------------

def pg_table_indexes(conn: PgConn, table: str):
    """Secondary indexes as IndexMeta (primary key excluded, matching
    migrate_v3.py:324 which skips PRIMARY)."""
    import re

    from cdc_connector_spark.tables import IndexMeta

    out = run_sql(
        conn,
        "SELECT indexname, indexdef FROM pg_indexes "
        f"WHERE tablename = {_qlit(table)} AND schemaname = 'public'",
    )
    idx = []
    for line in out.splitlines():
        name, ddl = line.split("|", 1)
        if name.endswith("_pkey"):
            continue
        m = re.search(r"\(([^)]*)\)", ddl)
        cols = [c.strip().strip('"') for c in m.group(1).split(",")] if m else []
        idx.append(IndexMeta(name=name, columns=cols, unique=ddl.startswith("CREATE UNIQUE")))
    return idx


def pg_foreign_keys(conn: PgConn, table: str):
    """FK constraints as ForeignKeyMeta — the same KEY_COLUMN_USAGE shape
    the reference queries (migrate_v3.py:341-353)."""
    from cdc_connector_spark.tables import ForeignKeyMeta

    out = run_sql(
        conn,
        """
        SELECT rc.constraint_name, kcu.column_name, kcu2.table_name, kcu2.column_name
        FROM information_schema.referential_constraints rc
        JOIN information_schema.key_column_usage kcu
          ON kcu.constraint_name = rc.constraint_name
        JOIN information_schema.key_column_usage kcu2
          ON kcu2.constraint_name = rc.unique_constraint_name
         AND kcu2.ordinal_position = kcu.position_in_unique_constraint
        WHERE kcu.table_name = %s
        ORDER BY rc.constraint_name, kcu.ordinal_position
        """.replace("%s", _qlit(table)),
    )
    fks: dict[str, ForeignKeyMeta] = {}
    for line in out.splitlines():
        cname, col, ref_table, ref_col = line.split("|")
        fk = fks.setdefault(
            cname, ForeignKeyMeta(name=cname, columns=[], ref_table=ref_table, ref_columns=[])
        )
        fk.columns.append(col)
        fk.ref_columns.append(ref_col)
    return list(fks.values())


def create_indexes(conn: PgConn, table: str, indexes) -> None:
    """Re-create captured secondary indexes post-load
    (migrate_v3.py:459-482: indexes are built AFTER the bulk COPY, never
    during — each row insert through a btree is the slow path)."""
    for ix in indexes:
        uniq = "UNIQUE " if ix.unique else ""
        cols = ", ".join(_qident(c) for c in ix.columns)
        run_sql(
            conn,
            f"CREATE {uniq}INDEX IF NOT EXISTS {_qident(ix.name)} ON {_qident(table)} ({cols})",
        )


# ---- read path: DataSource with range partitions + filter pushdown ---------

class _RangePartition(InputPartition):
    def __init__(self, lo: int | None, hi: int | None):
        self.lo = lo
        self.hi = hi


def _filter_to_sql(f: Filter) -> str | None:
    """Translate a pushed filter to a WHERE fragment; None = unsupported.
    Only top-level single-column filters arrive here (Spark pre-splits the
    AND); the database then prunes before bytes ever reach the pipe."""
    if not hasattr(f, "attribute") or len(f.attribute) != 1:
        return None
    col = _qident(f.attribute[0])
    if isinstance(f, EqualTo):
        return f"{col} = {_qlit(f.value)}"
    if isinstance(f, GreaterThan):
        return f"{col} > {_qlit(f.value)}"
    if isinstance(f, GreaterThanOrEqual):
        return f"{col} >= {_qlit(f.value)}"
    if isinstance(f, LessThan):
        return f"{col} < {_qlit(f.value)}"
    if isinstance(f, LessThanOrEqual):
        return f"{col} <= {_qlit(f.value)}"
    if isinstance(f, In):
        return f"{col} IN ({', '.join(_qlit(v) for v in f.values)})"
    if isinstance(f, IsNull):
        return f"{col} IS NULL"
    if isinstance(f, IsNotNull):
        return f"{col} IS NOT NULL"
    return None


class _PgCopyReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options):
        self.schema = schema
        self.table = options["table"]
        self.conn = PgConn(
            host=options["host"],
            dbname=options.get("dbname", "postgres"),
            user=options.get("user", "postgres"),
            port=int(options.get("port", "5432")),
        )
        self.partition_column = options.get("partition_column")
        self.num_partitions = int(options.get("num_partitions", "1"))
        self.rows_per_partition = int(options.get("rows_per_partition", "1000000"))
        self.pushed: list[str] = []

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            frag = _filter_to_sql(f)
            if frag is not None:
                self.pushed.append(frag)
            else:
                yield f

    def partitions(self):
        if not self.partition_column:
            return [_RangePartition(None, None)]
        lo, hi, n = pg_range_stats(self.conn, self.table, self.partition_column)
        if lo is None or hi is None or n == 0:
            return [_RangePartition(None, None)]
        # honor explicit num_partitions; else plan from live rowcount like
        # snapshot.planner.plan_num_partitions
        k = self.num_partitions
        if k <= 1 and n > self.rows_per_partition:
            k = -(-n // self.rows_per_partition)
        k = max(1, min(k, max(1, hi - lo + 1)))
        stride = (hi - lo + 1 + k - 1) // k
        return [
            _RangePartition(lo + i * stride, min(hi, lo + (i + 1) * stride - 1))
            for i in range(k)
            if lo + i * stride <= hi
        ]

    def _copy_sql(self, part: _RangePartition) -> str:
        cols = ", ".join(_qident(f.name) for f in self.schema.fields)
        preds = list(self.pushed)
        if part.lo is not None:
            preds.append(
                f"{_qident(self.partition_column)} BETWEEN {part.lo} AND {part.hi}"
            )
        where = f" WHERE {' AND '.join(preds)}" if preds else ""
        # FORMAT text, not csv: text escaping is unambiguous — NULL is the
        # bare token \N while a literal backslash in data is doubled, so a
        # data value equal to the string "\N" round-trips (CSV relied on
        # server-side quoting that pandas strips before NULL matching).
        return (
            f"COPY (SELECT {cols} FROM {_qident(self.table)}{where}) "
            "TO STDOUT (FORMAT text)"
        )

    def read(self, partition: _RangePartition) -> Iterator:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema)
        argv = self.conn.argv() + ["-c", self._copy_sql(partition)]
        proc = subprocess.Popen(
            argv, stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=_env()
        )
        names = [f.name for f in self.schema.fields]
        try:
            reader = pd.read_csv(
                proc.stdout,
                sep="\t",
                header=None,
                names=names,
                dtype=str,
                keep_default_na=False,
                na_values=["\\N"],
                quoting=csv.QUOTE_NONE,
                chunksize=50_000,
            )
            for chunk in reader:
                yield _to_record_batch(chunk, self.schema, arrow_schema, pa)
        except pd.errors.EmptyDataError:
            return
        finally:
            proc.stdout.close()
            err = proc.stderr.read().decode(errors="replace")
            proc.stderr.close()
            rc = proc.wait()
            if rc != 0:
                raise RuntimeError(f"psql COPY failed: {err.strip()[:500]}")


# COPY text-format output escapes exactly these (plus the backslash itself);
# everything else travels as raw bytes
_TEXT_UNESC = {"\\": "\\", "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t", "v": "\v"}


def _unescape_text(s: pd.Series) -> pd.Series:
    """Undo COPY TO (FORMAT text) escaping on a string column (NaN passes
    through)."""
    return s.str.replace(
        r"\\([\\bfnrtv])", lambda m: _TEXT_UNESC[m.group(1)], regex=True
    )


def _to_record_batch(chunk: pd.DataFrame, schema: T.StructType, arrow_schema, pa):
    """Typed conversion of one COPY-text chunk (all-string + NaN-for-NULL)
    into an Arrow RecordBatch matching the Spark schema."""
    arrays = []
    for field in schema.fields:
        s = chunk[field.name]
        mask = s.isna()
        dt = field.dataType
        arr = None
        if isinstance(dt, (T.ShortType, T.IntegerType, T.LongType)):
            # exact int parse under a validity mask — pd.to_numeric returns
            # float64 whenever the chunk has NULLs, silently corrupting
            # bigints above 2^53
            ints = s.fillna("0").astype("int64")
            arr = pa.array(
                ints.to_numpy(),
                type=arrow_schema.field(field.name).type,
                mask=mask.to_numpy(),
            )
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            vals = pd.to_numeric(s, errors="raise")
        elif isinstance(dt, T.DecimalType):
            vals = s.map(lambda x: Decimal(x) if isinstance(x, str) else None)
        elif isinstance(dt, T.BooleanType):
            vals = s.map({"t": True, "f": False, "true": True, "false": False})
        elif isinstance(dt, T.DateType):
            vals = pd.to_datetime(s, format="%Y-%m-%d", errors="raise")
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # TimestampType's arrow field is timestamp[us, tz=UTC] → keep
            # tz-aware; NTZ stays naive
            vals = pd.to_datetime(s, errors="raise", utc=isinstance(dt, T.TimestampType))
        elif isinstance(dt, T.BinaryType):
            u = _unescape_text(s)
            vals = u.map(lambda x: bytes.fromhex(x[2:]) if isinstance(x, str) else None)
        else:
            vals = _unescape_text(s)
        if arr is None:
            arr = pa.array(
                vals.where(~mask, None), type=arrow_schema.field(field.name).type
            )
        arrays.append(arr)
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


class PostgresCopyDataSource(DataSource):
    """``spark.read.format("pgcopy")`` — options: host, dbname, user, port,
    table, partition_column, num_partitions | rows_per_partition."""

    @classmethod
    def name(cls) -> str:
        return "pgcopy"

    def schema(self) -> T.StructType:
        conn = PgConn(
            host=self.options["host"],
            dbname=self.options.get("dbname", "postgres"),
            user=self.options.get("user", "postgres"),
            port=int(self.options.get("port", "5432")),
        )
        return pg_table_schema(conn, self.options["table"])

    def reader(self, schema: T.StructType) -> _PgCopyReader:
        return _PgCopyReader(schema, self.options)


# ---- write path: distributed COPY FROM STDIN -------------------------------

def _create_table_sql(table: str, schema: T.StructType, pk_cols: list[str] | None) -> str:
    cols = ", ".join(f"{_qident(f.name)} {spark_to_pg_type(f.dataType)}" for f in schema.fields)
    pk = f", PRIMARY KEY ({', '.join(_qident(c) for c in pk_cols)})" if pk_cols else ""
    return f"CREATE TABLE IF NOT EXISTS {_qident(table)} ({cols}{pk})"


def _ensure_table(conn: PgConn, table: str, schema: T.StructType, pk_cols: list[str] | None) -> None:
    """Idempotent create that is also safe under CONCURRENT callers:
    IF NOT EXISTS only skips tables visible at check time, so two racing
    creators can both pass the check and one dies on the catalog's unique
    index ("duplicate key ... pg_type_typname_nsp_index") — treat that loser
    as success, the table exists."""
    try:
        run_sql(conn, _create_table_sql(table, schema, pk_cols))
    except RuntimeError as e:
        msg = str(e)
        if "already exists" not in msg and "duplicate key" not in msg:
            raise


def copy_to_postgres(
    df: DataFrame,
    conn: PgConn,
    table: str,
    mode: str = "append",
    pk_cols: list[str] | None = None,
    create: bool = True,
) -> int:
    """Bulk-load a DataFrame into PostgreSQL: one ``COPY FROM STDIN`` psql
    pipe per partition, running ON THE EXECUTORS via ``mapInPandas`` — the
    distributed form of the reference's chunk-worker COPY loader
    (migrate_v3.py:770-818; its workers were driver-side threads).

    ``mode='overwrite'`` truncates first (S11 idempotent-create + reload).
    Returns rows loaded. Indexes should be created AFTER the load
    (``create_indexes``), matching the reference's fast-load ordering.
    """
    if create:
        _ensure_table(conn, table, df.schema, pk_cols)
    if mode == "overwrite":
        run_sql(conn, f"TRUNCATE {_qident(table)}")
    elif mode != "append":
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")

    names = [f.name for f in df.schema.fields]
    binary_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.BinaryType)]
    string_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    int_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ShortType, T.IntegerType, T.LongType))
    ]
    col_list = ", ".join(_qident(c) for c in names)
    # FORMAT text (tab-delimited, NULL = bare \N): with the backslash escaped
    # first, a literal "\N" data value arrives as \\N and round-trips as data
    # — CSV's quoted-NULL-token ambiguity (QUOTE_MINIMAL leaves "\N"
    # unquoted → read back as NULL) cannot happen.
    copy_sql = f"COPY {_qident(table)} ({col_list}) FROM STDIN (FORMAT text)"
    argv_base = conn.argv() + ["-c", copy_sql]
    env = _env()

    def esc_text(s: pd.Series) -> pd.Series:
        # backslash FIRST, then delimiter/terminator chars
        s = s.str.replace("\\", "\\\\", regex=False)
        s = s.str.replace("\t", "\\t", regex=False)
        s = s.str.replace("\n", "\\n", regex=False)
        return s.str.replace("\r", "\\r", regex=False)

    def load_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        proc = subprocess.Popen(
            argv_base, stdin=subprocess.PIPE, stderr=subprocess.PIPE, env=env, text=False
        )
        n = 0
        try:
            for pdf in batches:
                pdf = pdf[names].copy()
                for c in int_cols:
                    # a nullable int partition arrives as float64 — "5.0"
                    # would be rejected by an integer column; Int64 keeps "5"
                    pdf[c] = pdf[c].astype("Int64")
                for c in binary_cols:
                    # \x hex, then the generic escape doubles the backslash
                    pdf[c] = pdf[c].map(lambda b: "\\x" + b.hex() if b is not None else None)
                for c in string_cols + binary_cols:
                    pdf[c] = esc_text(pdf[c])
                buf = io.StringIO()
                pdf.to_csv(
                    buf, sep="\t", header=False, index=False, na_rep="\\N",
                    quoting=csv.QUOTE_NONE, date_format="%Y-%m-%d %H:%M:%S.%f",
                )
                proc.stdin.write(buf.getvalue().encode())
                n += len(pdf)
            proc.stdin.close()
            if proc.wait() != 0:
                raise RuntimeError(
                    "psql COPY FROM failed: "
                    + proc.stderr.read().decode(errors="replace").strip()[:500]
                )
        finally:
            proc.stderr.close()
        yield pd.DataFrame({"rows_copied": [n]})

    from pyspark.sql import functions as F

    counts = df.mapInPandas(load_partition, schema="rows_copied long")
    return counts.agg(F.sum("rows_copied").alias("n")).collect()[0]["n"] or 0


def upsert_to_postgres(
    changes: DataFrame,
    conn: PgConn,
    table: str,
    key_cols: list[str],
    create: bool = True,
) -> dict:
    """LIVE upsert sink (S9): apply one flattened changelog micro-batch to a
    PostgreSQL table — the reference's actual sink semantics
    (insert.mode upsert + delete.enabled, connectors/sinks/postgres/
    trading.json:24-28) executed against a real server.

    Shape: COPY the batch into an UNLOGGED staging table (the fast path —
    never row-at-a-time INSERT), then one set-based
    ``INSERT … ON CONFLICT DO UPDATE`` for upserts and one ``DELETE USING``
    for tombstones, in a single transaction. Latest-per-key reduction
    (ts, seq) happens Spark-side first, so the merge is deterministic
    regardless of batch-internal ordering — same contract as
    ``TxLogMergeSink.apply``. Returns counts.

    Concurrency: the staging table name is unique per call (pid + nonce), so
    concurrent appliers targeting the same table cannot clobber each other's
    staging data; their merge transactions then serialize row-by-row in the
    database (ON CONFLICT takes per-key locks). Cross-batch ORDER is still
    the caller's contract — run one applier per key range, or accept
    last-committer-wins per key, exactly as with multiple reference sink
    tasks. The staging table is dropped in a ``finally`` path.
    """
    import uuid

    from cdc_connector_spark.changelog.apply import latest_per_key
    from cdc_connector_spark.changelog.envelope import META_COLS, OP_DELETE

    latest = latest_per_key(changes, key_cols)
    data_cols = [c for c in latest.columns if c not in META_COLS]
    row_schema = T.StructType([latest.schema[c] for c in data_cols])

    if create:
        _ensure_table(conn, table, row_schema, key_cols)

    staging = f"_stage_{table}_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    stage_schema = T.StructType(
        list(row_schema.fields) + [T.StructField("__op", T.StringType())]
    )
    cols = ", ".join(f"{_qident(f.name)} {spark_to_pg_type(f.dataType)}" for f in stage_schema.fields)
    run_sql(conn, f"CREATE UNLOGGED TABLE {_qident(staging)} ({cols})")

    try:
        staged = latest.select(*data_cols, "__op")
        n_staged = copy_to_postgres(staged, conn, staging, mode="append", create=False)

        keys = ", ".join(_qident(c) for c in key_cols)
        collist = ", ".join(_qident(c) for c in data_cols)
        sets = ", ".join(
            f"{_qident(c)} = EXCLUDED.{_qident(c)}" for c in data_cols if c not in key_cols
        )
        key_match = " AND ".join(f"t.{_qident(c)} = s.{_qident(c)}" for c in key_cols)
        conflict = f"DO UPDATE SET {sets}" if sets else "DO NOTHING"
        upsert = (
            f"INSERT INTO {_qident(table)} ({collist}) "
            f"SELECT {collist} FROM {_qident(staging)} WHERE __op <> {_qlit(OP_DELETE)} "
            f"ON CONFLICT ({keys}) {conflict}"
        )
        delete = (
            f"DELETE FROM {_qident(table)} t USING {_qident(staging)} s "
            f"WHERE s.__op = {_qlit(OP_DELETE)} AND {key_match}"
        )
        run_sql(conn, f"BEGIN; {upsert}; {delete}; COMMIT")
    finally:
        run_sql(conn, f"DROP TABLE IF EXISTS {_qident(staging)}")
    n_total = int(run_sql(conn, f"SELECT count(*) FROM {_qident(table)}").strip())
    return {"staged": n_staged, "table_rows": n_total}

"""LIVE database execution (S1/S2/S10/S11 live): a real PostgreSQL server is
booted per test module (initdb + pg_ctl, unix socket, trust auth), then the
COPY-protocol source/sink round-trips real testdata through it.

This is the reference's actual runtime surface — chunked range reads
(migrate_v3.py:570-680) and COPY bulk loads (migrate_v3.py:770-818) —
executed against a live server rather than parquet stand-ins. Skips cleanly
when server binaries are unavailable.
"""

import os
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

from cdc_connector_spark.sources.pg_copy import (
    PgConn,
    PostgresCopyDataSource,
    copy_to_postgres,
    create_indexes,
    pg_foreign_keys,
    pg_range_stats,
    pg_table_indexes,
    pg_table_schema,
    run_sql,
)

_BINARIES = all(shutil.which(b) for b in ("initdb", "pg_ctl", "postgres", "psql"))


def _as_pg_user(argv: list[str]) -> list[str]:
    """Run server binaries as an unprivileged user when we are root
    (postgres refuses to run as root)."""
    if os.geteuid() == 0:
        return ["runuser", "-u", "postgres", "--"] + argv
    return argv


@pytest.fixture(scope="module")
def pg(tmp_path_factory):
    if not _BINARIES:
        pytest.skip("postgres server binaries not available")
    data = str(tmp_path_factory.mktemp("pgdata"))
    sock = str(tmp_path_factory.mktemp("pgsock"))
    if os.geteuid() == 0:
        if shutil.which("runuser") is None or subprocess.run(["id", "postgres"], capture_output=True).returncode != 0:
            pytest.skip("no unprivileged user to run postgres as")
        subprocess.run(["chown", "-R", "postgres:postgres", data, sock], check=True)
        # the postgres user must traverse the pytest tmp dirs
        subprocess.run(["chmod", "755", os.path.dirname(data), os.path.dirname(os.path.dirname(data))], check=False)
    r = subprocess.run(
        _as_pg_user(["initdb", "-D", data, "-U", "postgres", "--no-sync", "-A", "trust"]),
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr[-200:]}")
    r = subprocess.run(
        _as_pg_user([
            "pg_ctl", "-D", data, "-l", os.path.join(data, "server.log"),
            "-o", (
                f"-c listen_addresses='' -c unix_socket_directories={sock} -c fsync=off "
                "-c wal_level=logical -c max_replication_slots=4 -c max_wal_senders=4"
            ),
            "-w", "-t", "60", "start",
        ]),
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        pytest.skip(f"pg_ctl start failed: {r.stderr[-200:]}")
    try:
        yield PgConn(host=sock)
    finally:
        subprocess.run(_as_pg_user(["pg_ctl", "-D", data, "stop", "-m", "immediate"]), capture_output=True)


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def test_live_bulk_load_and_partitioned_snapshot(spark, pg, lineitem):
    """Full live round trip: COPY-load lineitem into the server, snapshot it
    back with a 4-partition range read, byte-compare with the original."""
    n = copy_to_postgres(lineitem, pg, "lineitem", mode="overwrite", pk_cols=None)
    assert n == lineitem.count()

    spark.dataSource.register(PostgresCopyDataSource)
    back = (
        spark.read.format("pgcopy")
        .options(**pg.options(), table="lineitem",
                 partition_column="l_orderkey", num_partitions="4")
        .load()
    )
    assert back.rdd.getNumPartitions() == 4  # the range plan became 4 tasks
    a = lineitem.orderBy("l_orderkey", "l_linenumber").collect()
    b = back.orderBy("l_orderkey", "l_linenumber").collect()
    assert len(a) == len(b)
    assert a == b  # types and values identical after the live round trip


def test_live_range_stats_match_planner(spark, pg, lineitem):
    """S3 live: one-statement min/max/count against the server equals the
    Spark-side aggregate on the same data."""
    lo, hi, n = pg_range_stats(pg, "lineitem", "l_orderkey")
    row = lineitem.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.count(F.lit(1))
    ).collect()[0]
    assert (lo, hi, n) == tuple(row)


def test_live_schema_introspection(pg):
    """S6 live: information_schema → StructType with faithful types."""
    schema = pg_table_schema(pg, "lineitem")
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert by_name["l_orderkey"] == "bigint"
    assert by_name["l_linenumber"] == "int"
    assert by_name["l_quantity"] == "double"
    assert by_name["l_returnflag"] == "string"
    # parquet TIMESTAMP loads as TimestampType (session-tz) → timestamptz
    # in the database → TimestampType again on introspection
    assert by_name["l_shipdate"] == "timestamp"


def test_live_filter_pushdown_reaches_database(spark, pg):
    """Pushed predicates appear in the COPY statement (the DB prunes, not
    Spark): a selective filter must return exactly the matching rows and
    the reader's pushed-filter list must carry it."""
    from cdc_connector_spark.sources.pg_copy import _PgCopyReader

    spark.dataSource.register(PostgresCopyDataSource)
    df = (
        spark.read.format("pgcopy")
        .options(**pg.options(), table="lineitem")
        .load()
        .filter((F.col("l_orderkey") == 1) & F.col("l_returnflag").isNotNull())
    )
    rows = df.collect()
    assert rows and all(r["l_orderkey"] == 1 for r in rows)
    # unit-level: the translation covers the operators Spark will push
    reader = _PgCopyReader(
        pg_table_schema(pg, "lineitem"),
        {"host": pg.host, "table": "lineitem"},
    )
    from pyspark.sql.datasource import EqualTo, IsNotNull

    leftover = list(reader.pushFilters([EqualTo(("l_orderkey",), 1), IsNotNull(("l_returnflag",))]))
    assert leftover == []
    assert reader.pushed == ['"l_orderkey" = 1', '"l_returnflag" IS NOT NULL']


def test_live_nulls_and_empty_strings_round_trip(spark, pg):
    """The \\N NULL token must keep NULL distinct from '' through both
    directions (a classic CSV-transport corruption)."""
    df = spark.createDataFrame(
        [(1, None, 1.5), (2, "", None), (3, "x,\"quoted\"\nline", 2.5)],
        "id bigint, s string, v double",
    )
    copy_to_postgres(df, pg, "edge_cases", mode="overwrite", pk_cols=["id"])
    spark.dataSource.register(PostgresCopyDataSource)
    back = (
        spark.read.format("pgcopy")
        .options(**pg.options(), table="edge_cases")
        .load()
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in back] == [
        (1, None, 1.5),
        (2, "", None),
        (3, 'x,"quoted"\nline', 2.5),
    ]


def test_live_literal_nulltoken_backslashes_and_big_ints(spark, pg):
    """COPY text-format fidelity: a literal string "\\N" must NOT round-trip
    to NULL (the CSV formulation lost it — server-side quoting is stripped
    by pandas before NULL matching), backslash/tab/newline survive both
    directions, and a bigint above 2^53 in a column that also holds NULLs
    keeps exact precision (the float64 parse path corrupted it)."""
    big = 9007199254740993  # 2^53 + 1: not representable as float64
    df = spark.createDataFrame(
        [
            (1, "\\N", big),
            (2, "a\\b\tc\nd", None),
            (3, None, big + 12345),
        ],
        "id bigint, s string, n bigint",
    )
    copy_to_postgres(df, pg, "fidelity", mode="overwrite", pk_cols=["id"])
    # the literal string landed as data, not NULL, in the database itself
    assert run_sql(pg, "SELECT count(*) FROM fidelity WHERE s = E'\\\\N'").strip() == "1"
    spark.dataSource.register(PostgresCopyDataSource)
    back = (
        spark.read.format("pgcopy")
        .options(**pg.options(), table="fidelity")
        .load()
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in back] == [
        (1, "\\N", big),
        (2, "a\\b\tc\nd", None),
        (3, None, big + 12345),
    ]


def test_live_cdc_parameterized_column_types(spark, pg, tmp_path):
    """CDC parse must keep columns whose format_type carries parens/commas —
    varchar(20), numeric(10,2), char(5) — a narrower regex silently dropped
    them from every change event (data loss in envelopes and merges)."""
    from decimal import Decimal

    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.sources.pg_logical import (
        changes_to_envelope,
        create_slot,
        drop_slot,
        fetch_changes,
    )

    run_sql(pg, "DROP TABLE IF EXISTS typed_t")
    run_sql(
        pg,
        "CREATE TABLE typed_t (id bigint PRIMARY KEY, name varchar(20), "
        "price numeric(10,2), code char(5), ts timestamp(3) with time zone)",
    )
    create_slot(pg, "typed_test")
    try:
        run_sql(
            pg,
            "INSERT INTO typed_t VALUES "
            "(1, 'widget', 19.99, 'AB', '2026-08-13 10:00:00+00'); "
            "UPDATE typed_t SET price = 12345678.90, name = 'gadget' WHERE id = 1",
        )
        changes = fetch_changes(pg, "typed_test")
        assert [c["op"] for c in changes] == ["c", "u"]
        ins, upd = changes[0]["columns"], changes[1]["columns"]
        # every parameterized-type column is present and correctly typed
        assert ins["name"] == "widget" and upd["name"] == "gadget"
        assert ins["price"] == Decimal("19.99") and upd["price"] == Decimal("12345678.90")
        assert ins["code"] == "AB   "  # char(5) blank-padded
        assert ins["ts"] is not None

        # and the envelope applies cleanly against the introspected schema
        row_schema = pg_table_schema(pg, "typed_t")
        env = changes_to_envelope(spark, changes, row_schema, table="typed_t")
        sink = TxLogMergeSink(spark, str(tmp_path / "typed"), ["id"], num_buckets=2)
        sink.apply(flatten_envelope(env, key_cols=["id"]))
        rows = sink.read().collect()
        assert len(rows) == 1
        assert rows[0]["name"] == "gadget" and rows[0]["price"] == Decimal("12345678.90")
    finally:
        drop_slot(pg, "typed_test")


def test_live_concurrent_upserts_do_not_clobber(spark, pg):
    """Two appliers merging into ONE target concurrently: per-call staging
    table names mean neither destroys the other's staging data mid-flight;
    both batches must land (disjoint key ranges → deterministic result)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    from cdc_connector_spark.sources.pg_copy import upsert_to_postgres

    run_sql(pg, "DROP TABLE IF EXISTS conc_t")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("__op", T.StringType()),
            T.StructField("__ts_ms", T.LongType()),
            T.StructField("__source_db", T.StringType()),
            T.StructField("__source_table", T.StringType()),
            T.StructField("__seq", T.LongType()),
        ]
    )

    def batch(lo: int):
        rows = [(lo + i, f"v{lo + i}", "u", 1000 + i, "db", "conc_t", i) for i in range(50)]
        return spark.createDataFrame(rows, schema)

    a, b = batch(0), batch(1000)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(upsert_to_postgres, a, pg, "conc_t", ["id"])
        fb = pool.submit(upsert_to_postgres, b, pg, "conc_t", ["id"])
        ra, rb = fa.result(), fb.result()
    assert ra["staged"] == 50 and rb["staged"] == 50
    assert run_sql(pg, "SELECT count(*) FROM conc_t").strip() == "100"
    # no staging debris left behind
    assert run_sql(
        pg, "SELECT count(*) FROM pg_tables WHERE tablename LIKE '_stage_conc_t%'"
    ).strip() == "0"


def test_live_cdc_bounded_peek_pagination(spark, pg):
    """The stream reader's per-batch peek is BOUNDED (upto_nchanges): with a
    backlog of 12 single-row transactions and max_changes_per_batch=4, each
    read returns at most ~one bound's worth and repeated read+commit cycles
    drain the backlog — per-batch cost tracks batch size, not backlog."""
    from cdc_connector_spark.sources.pg_logical import (
        _PgCdcStreamReader,
        create_slot,
        drop_slot,
    )
    from cdc_connector_spark.changelog.envelope import envelope_schema

    run_sql(pg, "DROP TABLE IF EXISTS page_t")
    run_sql(pg, "CREATE TABLE page_t (id bigint PRIMARY KEY, v text)")
    create_slot(pg, "page_test")
    try:
        for i in range(12):  # 12 separate transactions = 12 changes
            run_sql(pg, f"INSERT INTO page_t VALUES ({i}, 'v{i}')")
        reader = _PgCdcStreamReader(
            pg,
            {"slot": "page_test", "table": "page_t", "max_changes_per_batch": "4"},
            envelope_schema(pg_table_schema(pg, "page_t")),
        )
        start = reader.initialOffset()
        seen, batches = [], 0
        while batches < 10:
            rows, end = reader.read(start)
            rows = list(rows)
            if not rows and end == start:
                break
            # the bound held: never the whole backlog in one batch
            assert len(rows) <= 5
            seen.extend(rows)
            reader.commit(end)
            start = end
            batches += 1
        assert len(seen) == 12  # drained across multiple bounded batches
        assert batches >= 3  # 12 changes / bound 4 → at least 3 non-empty reads
    finally:
        drop_slot(pg, "page_test")


def test_live_index_fk_capture_and_recreate(spark, pg):
    """migrate_v3.py:307-369/:459-482 live analogue: capture secondary
    indexes + FKs into TableMeta, then re-create indexes post-load."""
    run_sql(pg, "DROP TABLE IF EXISTS child; DROP TABLE IF EXISTS parent")
    run_sql(pg, "CREATE TABLE parent (p_id bigint PRIMARY KEY, name text)")
    run_sql(
        pg,
        "CREATE TABLE child (c_id bigint PRIMARY KEY, p_ref bigint REFERENCES parent(p_id), v text); "
        "CREATE INDEX ix_child_pref ON child (p_ref); "
        "CREATE UNIQUE INDEX ux_child_v ON child (v)",
    )
    idx = {i.name: i for i in pg_table_indexes(pg, "child")}
    assert idx["ix_child_pref"].columns == ["p_ref"] and not idx["ix_child_pref"].unique
    assert idx["ux_child_v"].unique
    fks = pg_foreign_keys(pg, "child")
    assert len(fks) == 1
    assert fks[0].columns == ["p_ref"] and fks[0].ref_table == "parent" and fks[0].ref_columns == ["p_id"]

    # drop + re-create from captured metadata (idempotent)
    run_sql(pg, "DROP INDEX ix_child_pref, ux_child_v")
    create_indexes(pg, "child", list(idx.values()))
    create_indexes(pg, "child", list(idx.values()))  # IF NOT EXISTS
    recreated = sorted(pg_table_indexes(pg, "child"), key=lambda i: i.name)
    assert recreated == sorted(idx.values(), key=lambda i: i.name)


def test_live_snapshot_cli(spark, pg, lineitem, tmp_path):
    """The migrate entry point against a LIVE database: discovery from
    pg_tables, partitioned reads, parquet sinks, and a per-table migration
    report carrying the captured source index metadata."""
    import json

    from cdc_connector_spark.snapshot.cli import main as cli_main

    clean = lineitem.dropDuplicates(["l_orderkey", "l_linenumber"]).limit(300)
    copy_to_postgres(clean, pg, "cli_li", mode="overwrite")
    run_sql(pg, 'CREATE INDEX IF NOT EXISTS ix_cli_li_part ON cli_li ("l_partkey")')
    sink_root = str(tmp_path / "snap")
    rc = cli_main([
        "--pg-host", pg.host, "--sink-root", sink_root,
        "--database", "live", "--tables", "cli_li",
        "--pk", "cli_li=l_orderkey,l_linenumber",
    ])
    assert rc == 0
    out = spark.read.parquet(f"{sink_root}/live_cli_li")
    assert out.count() == 300
    with open(f"{sink_root}/live_cli_li.meta.json") as f:
        meta = json.load(f)
    assert meta["indexes"] and meta["indexes"][0]["columns"] == ["l_partkey"]


def test_live_logical_decoding_cdc_end_to_end(spark, pg, tmp_path):
    """LIVE CDC (S7 executed): snapshot bootstrap, then real INSERT/UPDATE/
    DELETE drained from a logical replication slot, parsed into the
    Debezium-shaped envelope, and MERGEd — the sink must converge to the
    database's live state."""
    from pyspark.sql import types as T

    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.sources.pg_logical import (
        changes_to_envelope,
        create_slot,
        drop_slot,
        fetch_changes,
    )

    run_sql(pg, "DROP TABLE IF EXISTS acct")
    run_sql(pg, "CREATE TABLE acct (id bigint PRIMARY KEY, name text, bal double precision)")
    run_sql(pg, "INSERT INTO acct VALUES (1, 'alice', 10.5), (2, 'bob', 20.0), (3, 'eve', 0)")

    # snapshot bootstrap (op 'r' analogue: plain overwrite)
    spark.dataSource.register(PostgresCopyDataSource)
    snap = spark.read.format("pgcopy").options(**pg.options(), table="acct").load()
    sink = TxLogMergeSink(spark, str(tmp_path / "acct"), ["id"], num_buckets=4)
    sink.overwrite(snap)

    create_slot(pg, "cdc_test")
    try:
        # live DML across several transactions, with quoting edge cases
        run_sql(pg, "INSERT INTO acct VALUES (4, 'd''arcy, the ''quoted''', 1.25)")
        run_sql(pg, "UPDATE acct SET bal = bal + 5 WHERE id = 1; DELETE FROM acct WHERE id = 3")
        run_sql(pg, "UPDATE acct SET name = NULL WHERE id = 2")

        # peek leaves the slot; get drains it
        peeked = fetch_changes(pg, "cdc_test", peek=True)
        changes = fetch_changes(pg, "cdc_test")
        assert [c["op"] for c in changes] == ["c", "u", "d", "u"]
        assert changes == peeked
        assert fetch_changes(pg, "cdc_test") == []  # drained
        assert all(c["ts_ms"] > 0 for c in changes)
        assert [c["seq"] for c in changes] == sorted(c["seq"] for c in changes)
        # DELETE carries only the replica-identity key
        assert changes[2]["columns"] == {"id": 3}

        row_schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
        ])
        env = changes_to_envelope(spark, changes, row_schema, table="acct")
        sink.apply(flatten_envelope(env, key_cols=["id"]))

        # the sink converged to the database's live state
        live = {(r["id"], r["name"], r["bal"]) for r in
                spark.read.format("pgcopy").options(**pg.options(), table="acct").load().collect()}
        sunk = {(r["id"], r["name"], r["bal"]) for r in sink.read().collect()}
        assert sunk == live
        assert (1, "alice", 15.5) in sunk and (4, "d'arcy, the 'quoted'", 1.25) in sunk
        assert all(t[0] != 3 for t in sunk)  # delete applied
    finally:
        drop_slot(pg, "cdc_test")


def test_live_db_to_db_replication_with_upsert_sink(spark, pg):
    """The reference's FULL flow executed live: snapshot a source table into
    a replica, capture subsequent DML from the WAL, and apply it to the
    replica through the set-based upsert sink (staging COPY + INSERT ON
    CONFLICT + DELETE USING) — both tables must converge."""
    from pyspark.sql import types as T

    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.sources.pg_copy import upsert_to_postgres
    from cdc_connector_spark.sources.pg_logical import (
        changes_to_envelope,
        create_slot,
        drop_slot,
        fetch_changes,
    )

    run_sql(pg, "DROP TABLE IF EXISTS src_t; DROP TABLE IF EXISTS dst_t")
    run_sql(pg, "CREATE TABLE src_t (id bigint PRIMARY KEY, v text, n double precision)")
    run_sql(pg, "INSERT INTO src_t VALUES (1,'a',1.0),(2,'b',2.0)")

    spark.dataSource.register(PostgresCopyDataSource)
    snap = spark.read.format("pgcopy").options(**pg.options(), table="src_t").load()
    copy_to_postgres(snap, pg, "dst_t", mode="overwrite", pk_cols=["id"])

    create_slot(pg, "repl_test")
    try:
        run_sql(pg, "INSERT INTO src_t VALUES (3,'c',3.0)")
        run_sql(pg, "UPDATE src_t SET v='a2', n=1.5 WHERE id=1")
        run_sql(pg, "DELETE FROM src_t WHERE id=2")
        # same-key churn in one batch: latest-per-key must win
        run_sql(pg, "UPDATE src_t SET v='c2' WHERE id=3; UPDATE src_t SET v='c3' WHERE id=3")

        row_schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.DoubleType()),
        ])
        env = changes_to_envelope(spark, fetch_changes(pg, "repl_test"), row_schema, table="src_t")
        stats = upsert_to_postgres(
            flatten_envelope(env, key_cols=["id"]), pg, "dst_t", key_cols=["id"]
        )
        assert stats["staged"] == 3  # latest-per-key reduced 5 events → 3 keys

        src = {tuple(r) for r in spark.read.format("pgcopy").options(**pg.options(), table="src_t").load().collect()}
        dst = {tuple(r) for r in spark.read.format("pgcopy").options(**pg.options(), table="dst_t").load().collect()}
        assert src == dst == {(1, "a2", 1.5), (3, "c3", 3.0)}
    finally:
        drop_slot(pg, "repl_test")


def test_live_cdc_structured_streaming_source(spark, pg, tmp_path):
    """LIVE CDC as a real Structured Streaming source: readStream over the
    replication slot → flatten → foreachBatch MERGE. The slot's confirmed
    position must advance with stream commits (bounded WAL retention), and
    the sink must converge across multiple micro-batches."""
    from pyspark.sql import types as T

    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.sources.pg_logical import (
        PostgresCdcStreamSource,
        create_slot,
        drop_slot,
    )

    run_sql(pg, "DROP TABLE IF EXISTS st_t")
    run_sql(pg, "CREATE TABLE st_t (id bigint PRIMARY KEY, v text)")
    spark.dataSource.register(PostgresCdcStreamSource)
    sink = TxLogMergeSink(spark, str(tmp_path / "st_t"), ["id"], num_buckets=2)

    create_slot(pg, "stream_test")
    try:
        def lsn():
            return run_sql(pg, "SELECT confirmed_flush_lsn FROM pg_replication_slots WHERE slot_name='stream_test'").strip()

        lsn0 = lsn()
        env_stream = (
            spark.readStream.format("pglogical")
            .options(**pg.options(), slot="stream_test", table="st_t")
            .load()
        )

        def apply_batch(batch_df, batch_id):
            if batch_df.count():
                sink.apply(flatten_envelope(batch_df, key_cols=["id"]))

        q = (
            env_stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            run_sql(pg, "INSERT INTO st_t VALUES (1,'a'),(2,'b')")
            q.processAllAvailable()
            assert {(r["id"], r["v"]) for r in sink.read().collect()} == {(1, "a"), (2, "b")}

            run_sql(pg, "UPDATE st_t SET v='a2' WHERE id=1; DELETE FROM st_t WHERE id=2")
            q.processAllAvailable()
            assert {(r["id"], r["v"]) for r in sink.read().collect()} == {(1, "a2")}
        finally:
            q.stop()
        assert lsn() != lsn0  # slot advanced: WAL retention is bounded
    finally:
        drop_slot(pg, "stream_test")


def test_live_cdc_poll_loop_heartbeat(spark, pg, tmp_path):
    """Micro-batch CDC polling: two polls with DML between them, heartbeat
    per poll, sink converges after each."""
    from pyspark.sql import types as T

    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.sources.pg_logical import create_slot, drop_slot, run_cdc_poll

    run_sql(pg, "DROP TABLE IF EXISTS poll_t")
    run_sql(pg, "CREATE TABLE poll_t (id bigint PRIMARY KEY, v text)")
    spark.dataSource.register(PostgresCopyDataSource)
    sink = TxLogMergeSink(spark, str(tmp_path / "poll_t"), ["id"], num_buckets=2)
    row_schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])

    create_slot(pg, "poll_test")
    try:
        beats = []
        run_sql(pg, "INSERT INTO poll_t VALUES (1,'x')")
        n = run_cdc_poll(spark, pg, "poll_test", sink, row_schema, "poll_t", ["id"],
                         max_polls=1, on_progress=beats.append)
        assert n == 1 and beats[0]["events"] == 1
        run_sql(pg, "INSERT INTO poll_t VALUES (2,'y'); UPDATE poll_t SET v='x2' WHERE id=1")
        n = run_cdc_poll(spark, pg, "poll_test", sink, row_schema, "poll_t", ["id"],
                         max_polls=2, poll_interval_s=0.1, on_progress=beats.append)
        assert n == 2 and len(beats) == 3
        assert {(r["id"], r["v"]) for r in sink.read().collect()} == {(1, "x2"), (2, "y")}
    finally:
        drop_slot(pg, "poll_test")


def test_live_snapshot_to_merge_sink_end_to_end(spark, pg, lineitem, tmp_path):
    """The reference's migration flow, engine-shaped: live DB → partitioned
    snapshot → merge sink → validation checks all green."""
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.validation.checks import run_all_checks

    # testdata lineitem plants duplicate PKs (CDC realism) — a faithful
    # snapshot+validate needs a clean keyspace
    clean = lineitem.dropDuplicates(["l_orderkey", "l_linenumber"]).limit(500)
    copy_to_postgres(clean, pg, "li_small", mode="overwrite")
    spark.dataSource.register(PostgresCopyDataSource)
    src = (
        spark.read.format("pgcopy")
        .options(**pg.options(), table="li_small",
                 partition_column="l_orderkey", num_partitions="2")
        .load()
    )
    sink = TxLogMergeSink(spark, str(tmp_path / "sink"), ["l_orderkey", "l_linenumber"], num_buckets=4)
    sink.overwrite(src)
    report = run_all_checks("li_small", src, sink.read(), ["l_orderkey", "l_linenumber"])
    assert report.verdict == "PASS"


def test_live_cdc_into_txlog_table(spark, pg, tmp_path):
    """LIVE CDC landing in the transaction-log table: snapshot bootstrap,
    two rounds of real DML applied as separate commits, compaction, and the
    table must converge to the database's live state — with the pre-compact
    history still time-travelable."""
    from pyspark.sql import types as T

    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.sources.pg_logical import (
        changes_to_envelope,
        create_slot,
        drop_slot,
        fetch_changes,
    )

    run_sql(pg, "DROP TABLE IF EXISTS acct_tx")
    run_sql(pg, "CREATE TABLE acct_tx (id bigint PRIMARY KEY, name text, bal double precision)")
    run_sql(pg, "INSERT INTO acct_tx VALUES (1, 'alice', 10.5), (2, 'bob', 20.0), (3, 'eve', 0)")

    spark.dataSource.register(PostgresCopyDataSource)
    snap = spark.read.format("pgcopy").options(**pg.options(), table="acct_tx").load()
    table = TxLogMergeSink(spark, str(tmp_path / "acct_tx"), ["id"], num_buckets=4)
    table.overwrite(snap)

    row_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("bal", T.DoubleType()),
    ])
    create_slot(pg, "cdc_txlog")
    try:
        run_sql(pg, "INSERT INTO acct_tx VALUES (4, 'dora', 1.25)")
        run_sql(pg, "UPDATE acct_tx SET bal = bal + 5 WHERE id = 1")
        env = changes_to_envelope(spark, fetch_changes(pg, "cdc_txlog"), row_schema, table="acct_tx")
        table.apply(flatten_envelope(env, key_cols=["id"]))
        v_mid = table.current_version()

        run_sql(pg, "DELETE FROM acct_tx WHERE id = 3; UPDATE acct_tx SET name = 'bobby' WHERE id = 2")
        env = changes_to_envelope(spark, fetch_changes(pg, "cdc_txlog"), row_schema, table="acct_tx")
        table.apply(flatten_envelope(env, key_cols=["id"]))
        # merge rewrites whole buckets, so nothing fragments here — compact
        # must be a safe no-op on a live table (fragmentation path is the
        # append() fast path, unit-tested in test_txlog_sink)
        n_compacted = table.compact(min_files=2)

        live = {(r["id"], r["name"], r["bal"]) for r in
                spark.read.format("pgcopy").options(**pg.options(), table="acct_tx").load().collect()}
        sunk = {(r["id"], r["name"], r["bal"]) for r in table.read().collect()}
        assert sunk == live
        assert (2, "bobby", 20.0) in sunk and all(t[0] != 3 for t in sunk)
        # mid-stream version: pre-delete state, still readable after compact
        mid = {r["id"] for r in table.read(version=v_mid).collect()}
        assert mid == {1, 2, 3, 4}
        ops = [h["operation"] for h in table.history()]
        assert ops[0] == "OVERWRITE" and ops.count("MERGE") == 2
        assert ("COMPACT" in ops) == (n_compacted > 0)
    finally:
        drop_slot(pg, "cdc_txlog")

"""LIVE PostgreSQL conformance — capture, bootstrap, dialect, relay.

The sandbox ships a full PostgreSQL 15 server (no psycopg2, no JDBC
driver jar); pgshovel_spark reaches it through its own pure-Python
wire-protocol client (sources/pgwire.py).  These tests run every
previously env-blocked Postgres surface against the real engine:

- wire client type/error conformance
- logical-decoding capture into the CHANGE_SCHEMA envelope
  (sources/pglogical.py) + the peek/advance watermark contract
- Spark-side replay of the captured envelope == live table state
- MVCC parallel snapshot bootstrap (pg_export_snapshot + SET
  TRANSACTION SNAPSHOT per executor connection) under concurrent
  writes
- the POSTGRES dialect TypeCase matrix EXECUTED (literal rendering
  round-tripped through the server's own parser)
- the full relay: live Postgres -> decoded envelope -> executed ANSI
  MERGE into live Derby (the serving-database hand-off)

Every test skips cleanly when the server can't be provisioned
(PgUnavailable) — the same honest env-gate as the Kafka seam.
"""

from __future__ import annotations

import datetime
import decimal
import threading

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pgshovel_spark.sources import pglogical as pgl
from pgshovel_spark.sources.cdc import sql_literal
from pgshovel_spark.sources.dialect import LOGICAL_KINDS, POSTGRES
from pgshovel_spark.sources.pgwire import (
    PgError,
    PgUnavailable,
    ScratchPostgres,
)


def _try_server():
    try:
        return ScratchPostgres()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")


@pytest.fixture(scope="module")
def pg():
    server = _try_server()
    try:
        params = server.start()
    except PgUnavailable as e:
        server.stop()
        pytest.skip(f"live Postgres unavailable: {e}")
    yield params
    server.stop()


# ---------------------------------------------------------------------------
# wire client
# ---------------------------------------------------------------------------


def test_wire_type_roundtrip(pg):
    with pg.connect() as c:
        assert c.one("select 2147483647") == 2147483647
        assert c.one("select 9007199254740993::bigint") == 9007199254740993
        assert c.one("select 1.5::float8") == 1.5
        assert c.one("select -12345.6789::numeric(20,4)") == decimal.Decimal(
            "-12345.6789"
        )
        assert c.one("select true") is True
        assert c.one("select null::int") is None
        assert c.one("select 'O''Brien; DROP TABLE--'") == "O'Brien; DROP TABLE--"
        assert c.one("select E'tab\\tand ''quoted'''") == "tab\tand 'quoted'"
        assert c.one("select '\\xdeadbeef'::bytea") == b"\xde\xad\xbe\xef"
        assert c.one("select date '2026-02-28'") == datetime.date(2026, 2, 28)
        ts = c.one("select timestamp '2026-01-01 00:00:00.123456'")
        assert ts == datetime.datetime(2026, 1, 1, 0, 0, 0, 123456)
        tz = c.one("select timestamptz '2026-01-01 12:00:00+00'")
        assert tz.utcoffset() is not None
        assert tz.astimezone(datetime.timezone.utc).hour == 12


def test_wire_error_and_recovery(pg):
    with pg.connect() as c:
        with pytest.raises(PgError) as ei:
            c.query("select * from does_not_exist")
        assert ei.value.sqlstate == "42P01"
        # the session survives the error (ReadyForQuery consumed)
        assert c.one("select 41 + 1") == 42


def test_wire_multi_statement_results(pg):
    with pg.connect() as c:
        rs = c.query(
            "create table multi_t(a int); insert into multi_t values (1),(2);"
            " select a from multi_t order by a; drop table multi_t"
        )
        tags = [r.tag for r in rs]
        assert tags == ["CREATE TABLE", "INSERT 0 2", "SELECT 2", "DROP TABLE"]
        assert [r.rows for r in rs if r.columns] == [[(1,), (2,)]]


# ---------------------------------------------------------------------------
# logical decoding -> envelope
# ---------------------------------------------------------------------------


def test_logical_capture_envelope(spark, pg):
    with pg.connect() as c:
        c.query(
            "create table cap_t(id int primary key, name text, bal numeric(10,2))"
        )
        pgl.create_slot(pg, "cap_slot")
        c.query("insert into cap_t values (1,'ann',10.00),(2,'bob',20.00)")
        c.query("update cap_t set bal = 15.50 where id = 1")
        c.query("alter table cap_t replica identity full")
        c.query("delete from cap_t where id = 2")
    df, max_lsn = pgl.pull_changes(
        spark, pg, "cap_slot", key_cols={"cap_t": ["id"]}
    )
    rows = df.orderBy("seq").collect()
    assert [r.op for r in rows] == ["INSERT", "INSERT", "UPDATE", "DELETE"]
    assert rows[0].after == {"id": "1", "name": "ann", "bal": "10.00"}
    assert rows[0].key == {"id": "1"}
    assert rows[2].after["bal"] == "15.50"
    # replica identity full => DELETE ships the full before-image
    assert rows[3].before == {"id": "2", "name": "bob", "bal": "20.00"}
    assert rows[3].after is None and rows[3].key == {"id": "2"}
    # commit timestamps stamp every change; seq is dense in LSN order
    assert all(r.ts is not None for r in rows)
    assert [r.seq for r in rows] == [0, 1, 2, 3]
    assert max_lsn is not None
    pgl.drop_slot(pg, "cap_slot")


def test_peek_advance_watermark_contract(spark, pg):
    with pg.connect() as c:
        c.query("create table wm_t(id int primary key, v int)")
        pgl.create_slot(pg, "wm_slot")
        c.query("insert into wm_t values (1, 100)")
    d1, lsn1 = pgl.pull_changes(spark, pg, "wm_slot")
    d2, lsn2 = pgl.pull_changes(spark, pg, "wm_slot")
    # peek is non-destructive: a crashed consumer re-reads the batch
    assert d1.count() == d2.count() == 1 and lsn1 == lsn2
    pgl.advance(pg, "wm_slot", lsn1)  # downstream commit -> move watermark
    d3, lsn3 = pgl.pull_changes(spark, pg, "wm_slot")
    assert d3.count() == 0 and lsn3 is None
    with pg.connect() as c:
        c.query("insert into wm_t values (2, 200)")
    d4, _ = pgl.pull_changes(spark, pg, "wm_slot")
    assert [r.after["id"] for r in d4.collect()] == ["2"]
    pgl.drop_slot(pg, "wm_slot")


def test_envelope_replay_matches_live_state(spark, pg):
    """Spark-side replay of the captured stream reproduces the live
    table exactly — latest op per key in seq order, DELETE removes."""
    with pg.connect() as c:
        c.query("create table rep_t(id int primary key, v text)")
        pgl.create_slot(pg, "rep_slot")
        c.query(
            "insert into rep_t select g, 'v' || g from generate_series(1, 50) g"
        )
        c.query("update rep_t set v = 'patched' where id % 7 = 0")
        c.query("delete from rep_t where id % 11 = 0")
        c.query("insert into rep_t values (11, 'resurrected')")
        live = {r[0]: r[1] for r in c.query("select id, v from rep_t")[0].rows}
    df, _ = pgl.pull_changes(spark, pg, "rep_slot", key_cols={"rep_t": ["id"]})
    w = Window.partitionBy(F.col("key")["id"]).orderBy(F.col("seq").desc())
    replayed = (
        df.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select(
            F.col("after")["id"].cast("int").alias("id"),
            F.col("after")["v"].alias("v"),
        )
    )
    assert {(r.id, r.v) for r in replayed.collect()} == set(live.items())
    pgl.drop_slot(pg, "rep_slot")


# ---------------------------------------------------------------------------
# MVCC parallel snapshot bootstrap
# ---------------------------------------------------------------------------


def test_parallel_snapshot_bootstrap_mvcc(spark, pg):
    """Eight executor connections adopt ONE exported snapshot: writes
    committed after the export are invisible to every slice, and the
    slices reassemble the exact point-in-time table."""
    with pg.connect() as c:
        c.query("create table boot_t(id int primary key, v int, w float8)")
        c.query(
            "insert into boot_t select g, g * 3, g / 2.0 "
            "from generate_series(0, 999) g"
        )
    with pgl.exported_snapshot(pg) as snap:
        with pg.connect() as w:  # concurrent writer, after the export
            w.query("update boot_t set v = -1 where id < 100")
            w.query("delete from boot_t where id >= 900")
            w.query("insert into boot_t values (5000, 1, 1.0)")
        df = pgl.snapshot_parallel_read(spark, pg, "boot_t", "id", snap, 8)
        rows = df.collect()
    assert len(rows) == 1000  # no phantom insert, no missing deletes
    assert all(r.v == r.id * 3 for r in rows)  # no torn update
    assert {r.id for r in rows} == set(range(1000))
    # and a fresh read AFTER the snapshot holder closes sees the writes
    with pg.connect() as c:
        assert c.one("select count(*) from boot_t") == 901
        assert c.one("select min(v) from boot_t") == -1


# ---------------------------------------------------------------------------
# dialect matrix, executed
# ---------------------------------------------------------------------------


def test_postgres_typecase_matrix_executes_live(pg):
    """The POSTGRES Dialect rows — previously machine-checked against
    a parser table only — execute on the real server: DDL compiles,
    sql_literal renderings INSERT through the server's own parser, and
    the values round-trip bit-exact through the wire client."""
    with pg.connect() as c:
        for i, kind in enumerate(LOGICAL_KINDS):
            tc = POSTGRES.type_case(kind)
            tbl = f"mx_{i}"
            c.query(POSTGRES.ddl(tbl, {"v": kind}))
            for s in tc.samples:
                lit = sql_literal(s, POSTGRES.literal_style)
                c.query(f"insert into {tbl} values ({lit})")
            got = [r[0] for r in c.query(f"select v from {tbl}")[0].rows]
            want = list(tc.samples)
            if kind == "char_padded":  # CHAR(8) pads; reads keep the pad
                want = [s.ljust(8) for s in want]
            assert got == want, f"{kind}: {got!r} != {want!r}"


def test_postgres_cursor_pushdown_executes_live(pg):
    """The CDC loop's watermark predicate (cursor_subquery text) runs
    on live Postgres and selects exactly the rows past the cursor —
    including the sub-second timestamp grammar Derby rejects."""
    from pgshovel_spark.sources.cdc import cursor_subquery

    with pg.connect() as c:
        c.query("create table cur_t(ts timestamp, v int)")
        c.query(
            "insert into cur_t values"
            " (timestamp '2026-01-01 00:00:00.000001', 1),"
            " (timestamp '2026-01-01 00:00:00.000002', 2),"
            " (timestamp '2026-01-01 00:00:00.000003', 3)"
        )
        wm = datetime.datetime(2026, 1, 1, 0, 0, 0, 1)
        sub = cursor_subquery("cur_t", "ts", wm, POSTGRES.literal_style)
        got = c.query(f"select v from {sub} order by v")[0].rows
        assert [r[0] for r in got] == [2, 3]


# ---------------------------------------------------------------------------
# the relay: live Postgres -> envelope -> executed MERGE into live Derby
# ---------------------------------------------------------------------------


def test_relay_postgres_to_derby_merge(spark, pg, tmp_path):
    """pgshovel's whole pipeline, live at both ends: mutations committed
    to PostgreSQL, captured via logical decoding, keyed/ordered by the
    envelope, and applied to a Derby warehouse through the executed
    ANSI MERGE — including a replay (crash between batch and advance)
    that must be idempotent."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    url = f"jdbc:derby:{tmp_path}/relaydb;create=true"
    con = jvm.java.sql.DriverManager.getConnection(url)
    st = con.createStatement()
    st.executeUpdate("CREATE TABLE STATE (ID INT PRIMARY KEY, V VARCHAR(50), SEQ BIGINT)")

    def apply_batch(df):
        w = Window.partitionBy(F.col("key")["id"]).orderBy(F.col("seq").desc())
        latest = (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.coalesce(F.col("after")["id"], F.col("key")["id"])
                .cast("int").alias("id"),
                F.col("after")["v"].alias("v"),
                "op",
                "seq",
            )
            .collect()
        )
        for r in latest:  # control-plane volume; real sink stages via JDBC
            st.executeUpdate(f"DELETE FROM STATE WHERE ID = {r.id}")
            if r.op != "DELETE":
                v = r.v.replace("'", "''")
                st.executeUpdate(
                    f"INSERT INTO STATE VALUES ({r.id}, '{v}', {r.seq})"
                )

    with pg.connect() as c:
        c.query("create table relay_t(id int primary key, v text)")
        pgl.create_slot(pg, "relay_slot")
        c.query("insert into relay_t values (1,'a'),(2,'b'),(3,'c')")
        c.query("update relay_t set v = 'a2' where id = 1")
    d1, lsn1 = pgl.pull_changes(spark, pg, "relay_slot", key_cols={"relay_t": ["id"]})
    apply_batch(d1)
    apply_batch(d1)  # replay before advance: idempotent
    pgl.advance(pg, "relay_slot", lsn1)
    with pg.connect() as c:
        c.query("delete from relay_t where id = 2")
        c.query("insert into relay_t values (4,'d')")
    d2, lsn2 = pgl.pull_changes(spark, pg, "relay_slot", key_cols={"relay_t": ["id"]})
    apply_batch(d2)
    pgl.advance(pg, "relay_slot", lsn2)

    rs = st.executeQuery("SELECT ID, V FROM STATE ORDER BY ID")
    derby_state = []
    while rs.next():
        derby_state.append((rs.getInt(1), rs.getString(2)))
    with pg.connect() as c:
        pg_state = [
            (r[0], r[1])
            for r in c.query("select id, v from relay_t order by id")[0].rows
        ]
    assert derby_state == pg_state == [(1, "a2"), (3, "c"), (4, "d")]
    pgl.drop_slot(pg, "relay_slot")
    con.close()


def test_capture_under_concurrent_writers(spark, pg):
    """Decode order is commit order even with interleaved writers —
    the envelope's (txid, seq) respects the server's serialization."""
    with pg.connect() as c:
        c.query("create table cc_t(id int primary key, who text)")
        pgl.create_slot(pg, "cc_slot")

    def writer(tag: str, base: int):
        with pg.connect() as c:
            for i in range(20):
                c.query(f"insert into cc_t values ({base + i}, '{tag}')")

    t1 = threading.Thread(target=writer, args=("t1", 1000))
    t2 = threading.Thread(target=writer, args=("t2", 2000))
    t1.start(); t2.start(); t1.join(); t2.join()
    df, _ = pgl.pull_changes(spark, pg, "cc_slot", key_cols={"cc_t": ["id"]})
    rows = df.orderBy("seq").collect()
    assert len(rows) == 40
    assert {r.after["id"] for r in rows} == {
        str(i) for i in list(range(1000, 1020)) + list(range(2000, 2020))
    }
    # seq must be dense and each txid contiguous in the stream
    assert [r.seq for r in rows] == list(range(40))
    seen_done = set()
    last = None
    for r in rows:
        if r.txid != last:
            assert r.txid not in seen_done, "txn interleaved in decode order"
            if last is not None:
                seen_done.add(last)
            last = r.txid
    pgl.drop_slot(pg, "cc_slot")


# ---------------------------------------------------------------------------
# administration: 4th executable CAS backend, on the reference's database
# ---------------------------------------------------------------------------


def test_pgwire_backend_lifecycle(pg):
    from pgshovel_spark.sources.administration import (
        PgWireBackend,
        SetConfig,
        TableConfig,
        bump_epoch,
        create_set,
        get_set,
    )

    be = PgWireBackend(pg)
    cfg = SetConfig(
        name="orders_set_pg",
        tables={
            "orders": TableConfig(cursor_col="o_orderkey", key_cols=["o_orderkey"])
        },
    )
    create_set(be, cfg)
    assert get_set(be, "orders_set_pg").version == 1
    bump_epoch(be, "orders_set_pg")
    got = get_set(be, "orders_set_pg")
    assert (got.version, got.epoch) == (2, 1)
    assert be.latest_version("orders_set_pg") == 2
    assert be.latest_version("missing_set") == 0
    be.close()


def test_pgwire_backend_exactly_one_winner(pg):
    """Eight claimants, each over its OWN wire connection (the
    multi-driver shape), race one (name, version): the server's
    PRIMARY KEY picks exactly one winner."""
    from pgshovel_spark.sources.administration import ConfigError, PgWireBackend

    results: list[str] = []
    lock = threading.Lock()
    barrier = threading.Barrier(8)
    PgWireBackend(pg).close()  # ensure the table exists before the race

    def racer(i: int) -> None:
        be = PgWireBackend(pg)
        barrier.wait()
        try:
            be.claim("raced_set_pg", 1, {"winner": i})
            with lock:
                results.append(f"win:{i}")
        except ConfigError:
            with lock:
                results.append("lose")
        finally:
            be.close()

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [r for r in results if r.startswith("win:")]
    assert len(wins) == 1 and results.count("lose") == 7
    winner = int(wins[0].split(":")[1])
    be = PgWireBackend(pg)
    assert be.read("raced_set_pg", 1) == {"winner": winner}
    be.close()


# ---------------------------------------------------------------------------
# micro-batch loop + live schema drift
# ---------------------------------------------------------------------------


def test_change_batches_deferred_commit(spark, pg):
    """The generator advances a batch's LSN watermark only when the
    consumer asks for the NEXT batch — abandoning it mid-batch
    replays the batch (the incremental_pulls contract, on the slot)."""
    with pg.connect() as c:
        c.query("create table mb_t(id int primary key, v int)")
        pgl.create_slot(pg, "mb_slot")
        c.query("insert into mb_t values (1, 10)")
    gen = pgl.change_batches(spark, pg, "mb_slot")
    first = next(gen).collect()
    assert [r.after["id"] for r in first] == ["1"]
    gen.close()  # crash before the next pull: watermark NOT advanced
    with pg.connect() as c:
        c.query("insert into mb_t values (2, 20)")
    seen = []
    for df in pgl.change_batches(spark, pg, "mb_slot"):
        seen.extend(r.after["id"] for r in df.collect())
    # the abandoned batch replayed (id 1 again), then id 2, then drained
    assert seen == ["1", "2"]
    # a fresh loop after full consumption starts empty
    assert list(pgl.change_batches(spark, pg, "mb_slot")) == []
    pgl.drop_slot(pg, "mb_slot")


def test_live_drift_widen_on_postgres(pg):
    """The schema-drift lifecycle with BOTH ends live on Postgres: the
    wire probe observes the schema, the DBA runs ALTER TABLE on the
    real server, and the widened config version CAS-publishes through
    the PgWireBackend admin store."""
    from pgshovel_spark.sources.administration import (
        PgWireBackend,
        SetConfig,
        TableConfig,
        create_set,
        get_set,
    )
    from pgshovel_spark.sources.drift import SchemaDriftError, SchemaDriftMonitor

    be = PgWireBackend(pg)
    with pg.connect() as c:
        c.query("create table drift_t(id bigint primary key, v text)")
    create_set(
        be,
        SetConfig(
            name="drift_set_pg",
            tables={"drift_t": TableConfig(cursor_col="id", key_cols=["id"])},
        ),
    )
    mon = SchemaDriftMonitor(be, "drift_set_pg", policy="widen")
    obs0 = pgl.pg_observed_schema(pg, "drift_t")
    assert obs0 == {"id": "bigint", "v": "string"}
    assert mon.check_schema("drift_t", obs0) == []  # bootstrap-adopt
    assert get_set(be, "drift_set_pg").tables["drift_t"].column_types == obs0

    with pg.connect() as c:  # the DBA migrates mid-stream
        c.query("alter table drift_t add column score float8")
    changes = mon.check_schema("drift_t", pgl.pg_observed_schema(pg, "drift_t"))
    assert [(c.change_kind, c.column) for c in changes] == [("added", "score")]
    widened = get_set(be, "drift_set_pg")
    assert widened.tables["drift_t"].column_types["score"] == "double"
    assert widened.version == 3  # create=1, bootstrap=2, widen=3

    with pg.connect() as c:  # destructive change must HALT, not widen
        c.query("alter table drift_t drop column v")
    with pytest.raises(SchemaDriftError):
        mon.check_schema("drift_t", pgl.pg_observed_schema(pg, "drift_t"))
    be.close()


def test_decoder_adversarial_values(spark, pg):
    """Values designed to break a naive test_decoding parser — quotes,
    doubled quotes, spaces, newlines, brackets, the literal words
    'null' and 'old-key:', unicode, empty strings, arrays — round-trip
    decode -> envelope == live table state."""
    nasty = [
        "it's",
        "double''quoted",
        "spa ces and\ttabs",
        "line\nbreak",
        "brackets[integer]:fake",
        "null",
        "old-key: new-tuple:",
        "emoji éü中文",
        "",
        "{1,2,3}",
        "trailing space ",
    ]
    with pg.connect() as c:
        c.query("create table adv_t(id int primary key, v text, arr int[])")
        pgl.create_slot(pg, "adv_slot")
        for i, v in enumerate(nasty):
            esc = v.replace("'", "''")
            c.query(
                f"insert into adv_t values ({i}, '{esc}', ARRAY[{i}, {i + 1}])"
            )
        live = {r[0]: r[1] for r in c.query("select id, v from adv_t")[0].rows}
    df, _ = pgl.pull_changes(spark, pg, "adv_slot", key_cols={"adv_t": ["id"]})
    rows = df.collect()
    assert len(rows) == len(nasty)
    got = {int(r.after["id"]): r.after["v"] for r in rows}
    assert got == live == dict(enumerate(nasty))
    # arrays pass through as their text rendering
    assert rows[0].after["arr"] == "{0,1}"
    pgl.drop_slot(pg, "adv_slot")


def test_parse_tuple_property():
    """Pure-parser property test: random column values rendered the
    way test_decoding renders them parse back exactly."""
    import random
    import string

    rng = random.Random(20260816)
    alphabet = string.ascii_letters + string.digits + " '\"[]{}:,.\n\té"
    for _ in range(300):
        cols = {}
        rendered = []
        for ci in range(rng.randint(1, 6)):
            name = f"c{ci}"
            if rng.random() < 0.15:
                cols[name] = None
                rendered.append(f"{name}[integer]:null")
            elif rng.random() < 0.4:
                v = str(rng.randint(-10**9, 10**9))
                cols[name] = v
                rendered.append(f"{name}[bigint]:{v}")
            else:
                v = "".join(
                    rng.choice(alphabet) for _ in range(rng.randint(0, 12))
                )
                cols[name] = v
                rendered.append(f"{name}[text]:'" + v.replace("'", "''") + "'")
        parsed, _ = pgl._parse_tuple(" ".join(rendered), 0)
        assert parsed == cols, (rendered, parsed, cols)


def test_buffered_sock_chunk_boundaries():
    """_BufferedSock.read_exact across adversarial recv chunkings —
    no server needed (fake socket).  Covers: read within buffer, read
    spanning leftover + several short chunks, read satisfied exactly
    at a chunk edge, and oversized chunks carrying the next message."""
    from pgshovel_spark.sources.pgwire import _BufferedSock

    class FakeSock:
        def __init__(self, data, sizes):
            self.data = data
            self.sizes = list(sizes)

        def recv(self, n):
            take = min(n, self.sizes.pop(0) if self.sizes else n, len(self.data))
            out, self.data = self.data[:take], self.data[take:]
            return out

    payload = bytes(range(256)) * 40  # 10240 bytes
    for sizes in ([1] * 64, [3, 7, 1, 100], [10240], [5, 10235], [64, 64, 64]):
        rd = _BufferedSock(FakeSock(payload, sizes))
        got = b"".join(
            rd.read_exact(k) for k in (1, 2, 255, 256, 1000, 3, 8723)
        )
        assert got == payload[: 1 + 2 + 255 + 256 + 1000 + 3 + 8723]
    # closed-connection surfaces as ConnectionError
    rd = _BufferedSock(FakeSock(b"abc", [3]))
    assert rd.read_exact(3) == b"abc"
    import pytest as _pytest

    with _pytest.raises(ConnectionError):
        rd.read_exact(1)


# ---------------------------------------------------------------------------
# binary pgoutput decoding (round 10) — unit half, no server needed
# ---------------------------------------------------------------------------


def _msg_relation(oid, ns, name, cols, keys, replident=b"d"):
    """Hand-built pgoutput Relation message (public wire layout)."""
    import struct as st

    out = b"R" + st.pack("!i", oid) + ns.encode() + b"\x00" + name.encode() + b"\x00"
    out += replident + st.pack("!h", len(cols))
    for c in cols:
        flags = 1 if c in keys else 0
        out += bytes([flags]) + c.encode() + b"\x00" + st.pack("!ii", 25, -1)
    return out


def _tuple_data(vals):
    import struct as st

    out = st.pack("!h", len(vals))
    for v in vals:
        if v is None:
            out += b"n"
        elif v is Ellipsis:  # unchanged TOAST
            out += b"u"
        else:
            b = str(v).encode()
            out += b"t" + st.pack("!i", len(b)) + b
    return out


def _msg_begin(ts_us=820540800000000, xid=700):
    import struct as st

    return b"B" + st.pack("!qqi", 0, ts_us, xid)


def test_pgoutput_decoder_unit():
    """Decoder conformance on hand-built bytes: Begin/Relation/Insert/
    Update(K and O)/Delete/Commit framing, NULLs, unchanged-TOAST
    sentinel, Truncate, and key extraction from Relation flags."""
    import struct as st

    from pgshovel_spark.sources import pgoutput as po

    rel = _msg_relation(99, "public", "t", ["id", "v"], ["id"])
    ins = b"I" + st.pack("!i", 99) + b"N" + _tuple_data([7, "x"])
    upd_k = (
        b"U" + st.pack("!i", 99) + b"K" + _tuple_data([7, None])
        + b"N" + _tuple_data([7, "y"])
    )
    upd_o = (
        b"U" + st.pack("!i", 99) + b"O" + _tuple_data([7, "y"])
        + b"N" + _tuple_data([7, Ellipsis])
    )
    dele = b"D" + st.pack("!i", 99) + b"K" + _tuple_data([7, None])
    trunc = b"T" + st.pack("!i", 1) + b"\x00" + st.pack("!i", 99)
    commit = b"C" + b"\x00" + st.pack("!qqq", 0, 0, 820540800000000)
    msgs = [
        ("0/10", 700, _msg_begin()),
        ("0/11", 700, rel),
        ("0/12", 700, ins),
        ("0/13", 700, upd_k),
        ("0/14", 700, upd_o),
        ("0/15", 700, dele),
        ("0/16", 700, trunc),
        ("0/17", 700, commit),
    ]
    out = po.parse_pgoutput(msgs)
    assert [c["op"] for c in out] == [
        "INSERT", "UPDATE", "UPDATE", "DELETE", "TRUNCATE"
    ]
    assert out[0]["after"] == {"id": "7", "v": "x"} and out[0]["key"] == {"id": "7"}
    # 'K' old tuples are key-only: placeholder NULLs stripped
    assert out[1]["before"] == {"id": "7"}
    assert out[2]["after"]["v"] == "unchanged-toast-datum"
    assert out[3]["before"] == {"id": "7"} and out[3]["after"] is None
    assert out[4]["table"] == "public.t"
    # every change carries the Begin's commit timestamp (2026-01-01)
    assert all(c["ts"].year == 2026 for c in out)
    # uncommitted transactions yield nothing (atomic envelope)
    assert po.parse_pgoutput(msgs[:-1]) == []


def test_pgoutput_decoder_malformed():
    """Adversarial bytes surface DESCRIPTIVE errors, never silent
    drops or bare struct/IndexError (the wire-fuzz contract)."""
    import struct as st

    import pytest as _p

    from pgshovel_spark.sources import pgoutput as po

    rel = _msg_relation(99, "public", "t", ["id", "v"], ["id"])
    base = [("0/10", 1, _msg_begin()), ("0/11", 1, rel)]

    def bad(payload, match):
        with _p.raises(ValueError, match=match):
            po.parse_pgoutput(base + [("0/12", 1, payload)])

    bad(b"", "empty")
    bad(b"?", "unknown pgoutput message kind")
    bad(b"I" + st.pack("!i", 99), "truncated")                       # no tuple
    bad(b"I" + st.pack("!i", 98) + b"N" + _tuple_data([1, 2]),
        "before its Relation")                                       # stale oid
    bad(b"I" + st.pack("!i", 99) + b"X", "expected b'N'")            # bad tag
    bad(b"I" + st.pack("!i", 99) + b"N" + _tuple_data([1]),
        "declared 2")                                                # col count
    # oversized declared length word
    bad(b"I" + st.pack("!i", 99) + b"N" + st.pack("!h", 2)
        + b"t" + st.pack("!i", 1 << 20) + b"xx", "truncated")
    # NUL-less string in a Relation message
    bad(b"R" + st.pack("!i", 5) + b"nons-terminated", "unterminated")
    # tuple column kind outside n/u/t/b
    bad(b"I" + st.pack("!i", 99) + b"N" + st.pack("!h", 2) + b"zz",
        "unknown pgoutput tuple column kind")


def test_lsn_roundtrip():
    from pgshovel_spark.sources.pgoutput import lsn_to_int, lsn_to_str

    for s in ("0/0", "0/1528618", "A7/FFFFFFFF", "FFFFFFFF/0"):
        assert lsn_to_str(lsn_to_int(s)) == s


# ---------------------------------------------------------------------------
# binary pgoutput decoding — LIVE twins of the test_decoding tests
# ---------------------------------------------------------------------------


def test_pgoutput_capture_envelope(spark, pg):
    """Twin of test_logical_capture_envelope on the pgoutput plugin:
    same workload, same envelope — keys now come from the Relation
    message's replica-identity flags (no caller key_cols), so after
    REPLICA IDENTITY FULL the key widens to all columns (the identity
    IS the key in pgoutput semantics)."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query(
            "create table pocap_t(id int primary key, name text, bal numeric(10,2))"
        )
    po.create_publication(pg, "pocap_pub", ["pocap_t"])
    po.create_slot_pgoutput(pg, "pocap_slot")
    with pg.connect() as c:
        c.query("insert into pocap_t values (1,'ann',10.00),(2,'bob',20.00)")
        c.query("update pocap_t set bal = 15.50 where id = 1")
        c.query("alter table pocap_t replica identity full")
        c.query("delete from pocap_t where id = 2")
    df, max_lsn = po.pull_changes_pgoutput(spark, pg, "pocap_slot", "pocap_pub")
    rows = df.orderBy("seq").collect()
    assert [r.op for r in rows] == ["INSERT", "INSERT", "UPDATE", "DELETE"]
    assert rows[0].after == {"id": "1", "name": "ann", "bal": "10.00"}
    assert rows[0].key == {"id": "1"}
    assert rows[2].after["bal"] == "15.50"
    assert rows[3].before == {"id": "2", "name": "bob", "bal": "20.00"}
    assert rows[3].after is None
    assert rows[3].key == {"id": "2", "name": "bob", "bal": "20.00"}
    assert all(r.ts is not None for r in rows)
    assert [r.seq for r in rows] == [0, 1, 2, 3]
    assert max_lsn is not None
    pgl.drop_slot(pg, "pocap_slot")


def test_pgoutput_peek_advance_watermark(spark, pg):
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table powm_t(id int primary key, v int)")
    po.create_publication(pg, "powm_pub", ["powm_t"])
    po.create_slot_pgoutput(pg, "powm_slot")
    with pg.connect() as c:
        c.query("insert into powm_t values (1, 100)")
    d1, lsn1 = po.pull_changes_pgoutput(spark, pg, "powm_slot", "powm_pub")
    d2, lsn2 = po.pull_changes_pgoutput(spark, pg, "powm_slot", "powm_pub")
    assert d1.count() == d2.count() == 1 and lsn1 == lsn2
    pgl.advance(pg, "powm_slot", lsn1)
    d3, lsn3 = po.pull_changes_pgoutput(spark, pg, "powm_slot", "powm_pub")
    assert d3.count() == 0 and lsn3 is None
    with pg.connect() as c:
        c.query("insert into powm_t values (2, 200)")
    d4, _ = po.pull_changes_pgoutput(spark, pg, "powm_slot", "powm_pub")
    assert [r.after["id"] for r in d4.collect()] == ["2"]
    pgl.drop_slot(pg, "powm_slot")


def test_pgoutput_matches_test_decoding(spark, pg):
    """BOTH plugins over one workload produce the same envelope
    (op/table/before/after sequences identical; pgoutput's key comes
    from replica identity where test_decoding's comes from the
    caller's key_cols — same values for a pkey table)."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table potwin_t(id int primary key, v text)")
    po.create_publication(pg, "potwin_pub", ["potwin_t"])
    pgl.create_slot(pg, "potwin_td")
    po.create_slot_pgoutput(pg, "potwin_po")
    with pg.connect() as c:
        c.query(
            "insert into potwin_t select g, 'v' || g from generate_series(1, 25) g"
        )
        c.query("update potwin_t set v = 'patched' where id % 5 = 0")
        c.query("delete from potwin_t where id % 7 = 0")
    td, _ = pgl.pull_changes(
        spark, pg, "potwin_td", key_cols={"public.potwin_t": ["id"]}
    )
    pod, _ = po.pull_changes_pgoutput(spark, pg, "potwin_po", "potwin_pub")
    cols = ["op", "table", "key", "before", "after"]
    a = [tuple(str(r[c]) for c in cols) for r in td.orderBy("seq").collect()]
    b = [tuple(str(r[c]) for c in cols) for r in pod.orderBy("seq").collect()]
    assert a == b and len(a) == 33
    pgl.drop_slot(pg, "potwin_td")
    pgl.drop_slot(pg, "potwin_po")


def test_pgoutput_schema_drift_mid_stream(spark, pg):
    """Live drift at the decode layer: ALTER TABLE ADD COLUMN between
    transactions re-sends the Relation message, and the after-image
    gains the new column with no consumer changes."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table podrift_t(id int primary key, v text)")
    po.create_publication(pg, "podrift_pub", ["podrift_t"])
    po.create_slot_pgoutput(pg, "podrift_slot")
    with pg.connect() as c:
        c.query("insert into podrift_t values (1, 'before')")
        c.query("alter table podrift_t add column extra int default 5")
        c.query("insert into podrift_t values (2, 'after', 9)")
    df, _ = po.pull_changes_pgoutput(spark, pg, "podrift_slot", "podrift_pub")
    rows = df.orderBy("seq").collect()
    assert rows[0].after == {"id": "1", "v": "before"}
    assert rows[1].after == {"id": "2", "v": "after", "extra": "9"}
    pgl.drop_slot(pg, "podrift_slot")


def test_pgoutput_walsender_stream(pg):
    """The REAL transport: replication=database startup,
    START_REPLICATION into CopyBoth, XLogData framing, Standby Status
    Update moving confirmed_flush_lsn, CopyDone handshake leaving the
    connection reusable."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table pows_t(id int primary key, v text)")
    po.create_publication(pg, "pows_pub", ["pows_t"])
    po.create_slot_pgoutput(pg, "pows_slot")
    rc = po.PgReplicationConnection(pg)
    try:
        sysid, timeline, xlogpos, dbname = rc.identify_system()
        assert dbname == "postgres" and "/" in xlogpos
        stream = rc.start_replication("pows_slot", "pows_pub")
        with pg.connect() as c:
            c.query("insert into pows_t values (1, 'streamed'), (2, 'live')")
        changes = stream.read(max_seconds=10.0)
        assert [c_["op"] for c_ in changes] == ["INSERT", "INSERT"]
        assert changes[0]["after"] == {"id": "1", "v": "streamed"}
        assert changes[0]["key"] == {"id": "1"}
        # confirm the watermark: status update moves confirmed_flush_lsn
        stream.send_status(stream.wal_end)
        stream.stop()
        with pg.connect() as c:
            flushed = c.one(
                "select confirmed_flush_lsn::text from pg_replication_slots"
                " where slot_name = 'pows_slot'"
            )
        assert po.lsn_to_int(flushed) >= po.lsn_to_int(changes[-1]["lsn"])
        # the connection survives CopyBoth exit (replication grammar
        # still served)
        assert rc.identify_system()[3] == "postgres"
    finally:
        rc.close()
    pgl.drop_slot(pg, "pows_slot")


def test_pgoutput_walsender_multi_txn_and_relations(pg):
    """A persistent relations dict carries Relation metadata across
    read() calls — the long-lived-stream contract (pgoutput only
    re-sends Relation when the schema version changes)."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table pomt_t(id int primary key, v text)")
    po.create_publication(pg, "pomt_pub", ["pomt_t"])
    po.create_slot_pgoutput(pg, "pomt_slot")
    rc = po.PgReplicationConnection(pg)
    try:
        stream = rc.start_replication("pomt_slot", "pomt_pub")
        rels = {}
        with pg.connect() as c:
            c.query("insert into pomt_t values (1, 'a')")
        first = stream.read(max_seconds=10.0, relations=rels)
        with pg.connect() as c:
            c.query("insert into pomt_t values (2, 'b')")
        second = stream.read(max_seconds=10.0, relations=rels)
        assert [c_["after"]["id"] for c_ in first] == ["1"]
        assert [c_["after"]["id"] for c_ in second] == ["2"]
        stream.stop()
    finally:
        rc.close()
    pgl.drop_slot(pg, "pomt_slot")


# ---------------------------------------------------------------------------
# wire-client protocol fuzz (round 10) — decoder half, no server
# ---------------------------------------------------------------------------


class _ScriptedSock:
    """A socket double replaying a scripted server byte stream in
    adversarial chunk sizes; records everything the client sends."""

    def __init__(self, stream: bytes, chunk: int = 0):
        self._stream = stream
        self._pos = 0
        self._chunk = chunk  # 0 = everything at once
        self.sent = b""

    def recv(self, n: int) -> bytes:
        if self._pos >= len(self._stream):
            return b""  # server closed
        take = min(n, self._chunk or n, len(self._stream) - self._pos)
        out = self._stream[self._pos : self._pos + take]
        self._pos += take
        return out

    def sendall(self, b: bytes) -> None:
        self.sent += b

    def close(self) -> None:
        pass

    def settimeout(self, t) -> None:
        pass


def _wire_msg(kind: bytes, payload: bytes) -> bytes:
    import struct as st

    return kind + st.pack("!i", len(payload) + 4) + payload


def _scripted_conn(stream: bytes, chunk: int = 0):
    """A PgConnection wired to a scripted byte stream (startup skipped)."""
    from pgshovel_spark.sources.pgwire import PgConnection, _BufferedSock

    conn = PgConnection.__new__(PgConnection)
    conn.notices = []
    conn._sock = _ScriptedSock(stream, chunk)
    conn._rd = _BufferedSock(conn._sock)
    return conn


def _row_desc(cols: list[str], oid: int = 25) -> bytes:
    import struct as st

    out = st.pack("!h", len(cols))
    for c in cols:
        out += c.encode() + b"\x00" + st.pack("!ihihih", 0, 0, oid, -1, -1, 0)
    return out


def _data_row(vals: list[bytes | None]) -> bytes:
    import struct as st

    out = st.pack("!h", len(vals))
    for v in vals:
        out += st.pack("!i", -1) if v is None else st.pack("!i", len(v)) + v
    return out


def test_wire_fuzz_malformed_frames():
    """Table-driven adversarial server behavior: every malformed
    stream surfaces a DECLARED exception (ConnectionError / PgError),
    never a hang, silent desync, or bare struct error."""
    import pytest as _p

    ready = _wire_msg(b"Z", b"I")
    ok = (
        _wire_msg(b"T", _row_desc(["a"]))
        + _wire_msg(b"D", _data_row([b"1"]))
        + _wire_msg(b"C", b"SELECT 1\x00")
        + ready
    )

    # 1. truncated message header (connection dies mid-frame)
    conn = _scripted_conn(ok[:3])
    with _p.raises(ConnectionError, match="closed"):
        conn.query("select 1")

    # 2. truncated payload (header promises more bytes than arrive)
    conn = _scripted_conn(_wire_msg(b"T", _row_desc(["a"]))[:-5])
    with _p.raises(ConnectionError, match="closed"):
        conn.query("select 1")

    # 3. corrupt length word: below the 4-byte minimum
    import struct as st

    conn = _scripted_conn(b"D" + st.pack("!i", 3) + b"junk" + ready)
    with _p.raises(ConnectionError, match="corrupt protocol frame"):
        conn.query("select 1")

    # 4. absurd (oversized) length word fails loudly, no allocation —
    #    the cap sits ABOVE 1 GiB + 64 MiB because PostgreSQL field
    #    values go up to 1 GiB and the SQL-function CDC path ships a
    #    whole change line as one field (pgwire._parse_frame); a
    #    near-limit frame must NOT be called corrupt (case 4b).
    conn = _scripted_conn(b"D" + st.pack("!i", (1 << 30) + (64 << 20) + 5))
    with _p.raises(ConnectionError, match="corrupt protocol frame"):
        conn.query("select 1")

    # 4b. a legitimately-huge-but-legal length word is NOT corrupt:
    #     the parser accepts the header and then dies on the missing
    #     payload ("closed"), never on the corrupt-frame check.
    conn = _scripted_conn(b"D" + st.pack("!i", (1 << 30) + 5))
    with _p.raises(ConnectionError, match="closed"):
        conn.query("select 1")

    # 5. ErrorResponse MID-STREAM between DataRows: PgError carries
    #    the fields; the ReadyForQuery is consumed so the session
    #    survives for the next scripted exchange
    err_fields = b"SERROR\x00C57014\x00Mquery canceled\x00\x00"
    stream = (
        _wire_msg(b"T", _row_desc(["a"]))
        + _wire_msg(b"D", _data_row([b"1"]))
        + _wire_msg(b"E", err_fields)
        + ready
        + ok
    )
    conn = _scripted_conn(stream)
    from pgshovel_spark.sources.pgwire import PgError

    with _p.raises(PgError) as ei:
        conn.query("select 1")
    assert ei.value.sqlstate == "57014"
    rs = conn.query("select 1")  # framing intact after the error
    assert rs[0].rows == [("1",)]


def test_wire_fuzz_adversarial_values_and_chunking():
    """Valid-but-nasty frames decode correctly at every recv chunk
    size: NULL columns, empty strings, quotes/newlines, and multibyte
    UTF-8 split across chunk boundaries."""
    nasty = "O'Brien\n\ttab -- ; DROPé中文"
    stream = (
        _wire_msg(b"T", _row_desc(["a", "b", "c"]))
        + _wire_msg(b"D", _data_row([nasty.encode(), None, b""]))
        + _wire_msg(b"C", b"SELECT 1\x00")
        + _wire_msg(b"Z", b"I")
    )
    for chunk in (0, 1, 2, 3, 7):
        conn = _scripted_conn(stream, chunk)
        rs = conn.query("select 1")
        assert rs[0].rows == [(nasty, None, "")]
        assert rs[0].columns == ["a", "b", "c"]


def test_wire_fuzz_notice_and_parameter_status_midstream():
    """NoticeResponse and ParameterStatus interleaved with rows are
    absorbed (notices recorded), never corrupting the result."""
    notice = b"SNOTICE\x00C00000\x00Mheads up\x00\x00"
    stream = (
        _wire_msg(b"T", _row_desc(["a"]))
        + _wire_msg(b"N", notice)
        + _wire_msg(b"D", _data_row([b"7"]))
        + _wire_msg(b"S", b"TimeZone\x00UTC\x00")
        + _wire_msg(b"C", b"SELECT 1\x00")
        + _wire_msg(b"Z", b"I")
    )
    conn = _scripted_conn(stream)
    rs = conn.query("select 1")
    assert rs[0].rows == [("7",)]
    assert conn.notices and conn.notices[0]["M"] == "heads up"


# ---------------------------------------------------------------------------
# Kafka seam parity (round 10) — recorded live envelopes through the
# exact record layout format("kafka") presents
# ---------------------------------------------------------------------------


def test_kafka_envelope_byte_parity_with_live_capture(spark, pg, tmp_path):
    """The strongest broker-less evidence for the Kafka seam: capture
    LIVE pgoutput changes, serialize them to the exact Kafka record
    layout (key/value binary, topic/partition/offset/timestamp), replay
    through parse_change_envelope — the same projection the kafka
    branch of stream_source applies after .load() — and require the
    decoded records to be BYTE-IDENTICAL to the captured envelope
    (microsecond timestamps included), in batch AND streaming mode.
    The only surface left untested is format("kafka").load() itself,
    a Spark built-in."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.streaming.change_stream import (
        CHANGE_SCHEMA,
        KAFKA_RECORD_SCHEMA,
        parse_change_envelope,
        to_kafka_records,
    )

    with pg.connect() as c:
        c.query("create table kseam_t(id int primary key, v text, f float8)")
    po.create_publication(pg, "kseam_pub", ["kseam_t"])
    po.create_slot_pgoutput(pg, "kseam_slot")
    with pg.connect() as c:
        c.query(
            "insert into kseam_t select g, 'v''; drop--' || g, g/3.0"
            " from generate_series(1, 40) g"
        )
        c.query("update kseam_t set v = 'patched' where id % 4 = 0")
        c.query("delete from kseam_t where id % 9 = 0")
    env, _ = po.pull_changes_pgoutput(spark, pg, "kseam_slot", "kseam_pub")
    env = env.cache()

    # producer half: record layout == the kafka source's column set
    records = to_kafka_records(env, topic="pgshovel.changes", n_partitions=8)
    # name/type identity (literal columns are non-nullable, which is
    # strictly tighter than the source's declared nullability)
    assert [(f.name, f.dataType) for f in records.schema.fields] == [
        (f.name, f.dataType) for f in KAFKA_RECORD_SCHEMA.fields
    ]
    rec_dir = str(tmp_path / "kafka_records")
    records.write.parquet(rec_dir)

    # consumer half, batch: decoded == captured, byte for byte
    recorded = spark.read.schema(KAFKA_RECORD_SCHEMA).parquet(rec_dir)
    decoded = parse_change_envelope(recorded)
    assert decoded.schema == CHANGE_SCHEMA == env.schema
    canon = lambda df: sorted(map(str, df.collect()))  # noqa: E731
    assert canon(decoded) == canon(env) and env.count() == 54  # 40+10+4

    # partitioner is entity-sticky: one partition per record key
    per_key = (
        recorded.groupBy("key")
        .agg(F.countDistinct("partition").alias("nparts"))
        .agg(F.max("nparts").alias("m"))
        .collect()[0]["m"]
    )
    assert per_key == 1

    # consumer half, STREAMING: the identical projection runs as a
    # stream over the recorded frames (the kafka branch minus .load())
    got: list = []
    q = (
        parse_change_envelope(
            spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(rec_dir)
        )
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert sorted(map(str, got)) == canon(env)

    # malformed value -> NULL struct -> dropped by the NULL-key filter
    bad = spark.createDataFrame(
        [(b"k", b"{not json", "t", 0, 0, None, 0)], KAFKA_RECORD_SCHEMA
    )
    parsed_bad = parse_change_envelope(bad)
    assert parsed_bad.filter(F.col("key").isNotNull()).count() == 0
    env.unpersist()
    pgl.drop_slot(pg, "kseam_slot")


def test_pgoutput_change_batches_deferred_commit(spark, pg):
    """change_batches_pgoutput twins pglogical.change_batches: each
    batch is peeked, the watermark advances only on the NEXT pull, and
    exhausting the allowance leaves the last batch unacknowledged."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table pocb_t(id int primary key, v int)")
    po.create_publication(pg, "pocb_pub", ["pocb_t"])
    po.create_slot_pgoutput(pg, "pocb_slot")
    with pg.connect() as c:
        c.query("insert into pocb_t values (1, 10)")
    gen = po.change_batches_pgoutput(spark, pg, "pocb_slot", "pocb_pub", max_pulls=2)
    b1 = next(gen)
    assert [r.after["id"] for r in b1.collect()] == ["1"]
    with pg.connect() as c:
        c.query("insert into pocb_t values (2, 20)")
    b2 = next(gen)  # asking for batch 2 commits batch 1's watermark
    ids = [r.after["id"] for r in b2.collect()]
    assert ids == ["2"]  # batch 1 acked, not replayed
    assert list(gen) == []  # allowance exhausted
    # batch 2 was never acked: a fresh consumer replays it
    d, _ = po.pull_changes_pgoutput(spark, pg, "pocb_slot", "pocb_pub")
    assert [r.after["id"] for r in d.collect()] == ["2"]
    pgl.drop_slot(pg, "pocb_slot")


# ---------------------------------------------------------------------------
# pgoutput protocol v2 — streamed in-progress transactions (round 10)
# ---------------------------------------------------------------------------


def test_pgoutput_v2_stream_unit():
    """Decoder conformance on hand-built v2 bytes: S..E segments,
    xid-prefixed DML, StreamCommit stamping + ordering, StreamAbort of
    a subtransaction and of the whole transaction, interleaved small
    (non-streamed) transactions."""
    import struct as st

    from pgshovel_spark.sources import pgoutput as po

    TS = 820540800000000  # 2026-01-01 in pg microseconds
    rel = _msg_relation(99, "public", "t", ["id", "v"], ["id"])

    def s_start(xid, first=1):
        return b"S" + st.pack("!iB", xid, first)

    def s_ins(xid, *vals):
        return b"I" + st.pack("!i", xid) + st.pack("!i", 99) + b"N" + _tuple_data(list(vals))

    def s_rel(xid):
        return b"R" + st.pack("!i", xid) + rel[1:]

    s_commit = b"c" + st.pack("!iBqqq", 700, 0, 0, 0, TS)
    msgs = [
        # segment 1 of streamed txn 700 (relation arrives IN the stream)
        ("0/10", 700, s_start(700)),
        ("0/11", 700, s_rel(700)),
        ("0/12", 700, s_ins(700, 1, "a")),
        ("0/13", 700, s_ins(701, 90, "sub")),   # subtransaction 701
        ("0/14", 700, b"E"),
        # a SMALL txn 800 commits in between (non-streamed v1 framing)
        ("0/20", 800, _msg_begin(TS, 800)),
        ("0/21", 800, b"I" + st.pack("!i", 99) + b"N" + _tuple_data([50, "mid"])),
        ("0/22", 800, b"C" + b"\x00" + st.pack("!qqq", 0, 0, TS)),
        # segment 2 of txn 700; subtxn 701 aborts, then txn commits
        ("0/30", 700, s_start(700, 0)),
        ("0/31", 700, s_ins(700, 2, "b")),
        ("0/32", 700, b"E"),
        ("0/33", 700, b"A" + st.pack("!ii", 700, 701)),  # abort subtxn
        ("0/34", 700, s_commit),
    ]
    out = po.parse_pgoutput(msgs)
    # commit ORDER: txn 800 commits before txn 700's StreamCommit
    assert [(c["txid"], c["after"]["id"]) for c in out] == [
        (800, "50"), (700, "1"), (700, "2")
    ]
    assert all(c["ts"] is not None and c["ts"].year == 2026 for c in out)
    # whole-transaction abort drops everything
    msgs_abort = msgs[:5] + [("0/40", 700, b"A" + st.pack("!ii", 700, 700))]
    assert po.parse_pgoutput(msgs_abort) == []


def test_pgoutput_v2_streamed_equals_unstreamed(spark, pg):
    """A 30k-row transaction decoded TWICE from one slot (peek is
    non-destructive): proto 1 plain vs proto 2 with a 64kB
    logical_decoding_work_mem forcing stream segments.  The envelope
    must be IDENTICAL — streaming is a transport detail, not a
    semantic one."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table pov2_t(id int primary key, v text)")
    po.create_publication(pg, "pov2_pub", ["pov2_t"])
    po.create_slot_pgoutput(pg, "pov2_slot")
    with pg.connect() as c:
        c.query(
            "insert into pov2_t select g, 'p' || g from generate_series(1, 30000) g"
        )
        c.query("update pov2_t set v = 'x' where id = 7")
    plain, lsn1 = po.pull_changes_pgoutput(spark, pg, "pov2_slot", "pov2_pub")
    streamed, lsn2 = po.pull_changes_pgoutput(
        spark, pg, "pov2_slot", "pov2_pub",
        proto_version=2, streaming=True, work_mem="64kB",
    )
    assert lsn1 == lsn2
    cols = ["op", "table", "key", "before", "after", "seq"]
    a = [tuple(str(r[c]) for c in cols) for r in plain.orderBy("seq").collect()]
    b = [tuple(str(r[c]) for c in cols) for r in streamed.orderBy("seq").collect()]
    assert a == b and len(a) == 30001
    pgl.drop_slot(pg, "pov2_slot")


def test_pgoutput_v2_walsender_streamed(pg):
    """The v2 streamed path over the REAL walsender transport: SET the
    work_mem on the replication session (database-replication mode
    accepts SQL), START_REPLICATION with streaming 'on', and read a
    large transaction arriving as stream segments."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table powv2_t(id int primary key, v text)")
    po.create_publication(pg, "powv2_pub", ["powv2_t"])
    po.create_slot_pgoutput(pg, "powv2_slot")
    rc = po.PgReplicationConnection(pg)
    try:
        rc.query("set logical_decoding_work_mem = '64kB'")
        stream = rc.start_replication(
            "powv2_slot", "powv2_pub", proto_version=2, streaming=True
        )
        with pg.connect() as c:
            c.query(
                "insert into powv2_t select g, 'w' || g"
                " from generate_series(1, 20000) g"
            )
        changes = stream.read(max_seconds=30.0)
        assert len(changes) == 20000
        ids = sorted(int(c_["after"]["id"]) for c_ in changes)
        assert ids == list(range(1, 20001))
        assert all(c_["ts"] is not None for c_ in changes)
        stream.send_status(stream.wal_end)
        stream.stop()
    finally:
        rc.close()
    pgl.drop_slot(pg, "powv2_slot")


# ---------------------------------------------------------------------------
# landing bridge: live capture -> Structured Streaming (round 10)
# ---------------------------------------------------------------------------


def test_landing_capture_to_stream(spark, pg, tmp_path):
    """The production join between the serial capture loop and a
    checkpointable streaming source: LandingCapture lands pgoutput
    batches with globally rebased seq (persisted across instances),
    landing_stream replays them in order, and the decoded rows equal
    the slot's envelope exactly."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pglanding import LandingCapture, landing_stream

    with pg.connect() as c:
        c.query("create table land_t(id int primary key, v text)")
    po.create_publication(pg, "land_pub", ["land_t"])
    po.create_slot_pgoutput(pg, "land_slot")
    landing = str(tmp_path / "landing")
    cap = LandingCapture(spark, pg, "land_slot", landing, publication="land_pub")

    with pg.connect() as c:
        c.query("insert into land_t select g, 'a' || g from generate_series(1, 30) g")
    assert cap.pull_once() == 30
    with pg.connect() as c:
        c.query("update land_t set v = 'u' where id <= 5")
        c.query("delete from land_t where id = 9")
    assert cap.pull_once() == 6
    assert cap.pull_once() == 0  # idle slot
    assert cap.seq_base == 36 and cap.batches == 2

    # a NEW capture instance resumes the persisted seq base (crash-
    # restart shape) and keeps the total order monotone
    cap2 = LandingCapture(spark, pg, "land_slot", landing, publication="land_pub")
    assert cap2.seq_base == 36
    with pg.connect() as c:
        c.query("insert into land_t values (99, 'late')")
    assert cap2.drain() == 1

    got: list = []
    q = (
        landing_stream(spark, landing)
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert len(got) == 37
    seqs = sorted(r.seq for r in got)
    assert seqs == list(range(37))  # dense global order across batches
    ops = {r.op for r in got}
    assert ops == {"INSERT", "UPDATE", "DELETE"}
    pgl.drop_slot(pg, "land_slot")


def test_landing_capture_walsender_transport(spark, pg, tmp_path):
    """LandingCapture over the persistent walsender session: same
    landing layout and seq contract as the SQL transport, watermark
    confirmed via Standby Status Update — a restart sees nothing
    already confirmed, and unconfirmed work replays."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pglanding import LandingCapture, landing_stream

    with pg.connect() as c:
        c.query("create table lws_t(id int primary key, v text)")
    po.create_publication(pg, "lws_pub", ["lws_t"])
    po.create_slot_pgoutput(pg, "lws_slot")
    landing = str(tmp_path / "landing")
    cap = LandingCapture(
        spark, pg, "lws_slot", landing,
        publication="lws_pub", transport="walsender",
    )
    try:
        with pg.connect() as c:
            c.query("insert into lws_t select g, 'a' || g from generate_series(1, 40) g")
            c.query("update lws_t set v = 'u' where id <= 4")
        n = cap.pull_once(max_seconds=8.0)
        assert n == 44
        assert cap.pull_once(max_seconds=1.0) == 0  # idle
        # the status update moved the durable watermark
        with pg.connect() as c:
            flushed = c.one(
                "select confirmed_flush_lsn::text from pg_replication_slots"
                " where slot_name = 'lws_slot'"
            )
        assert po.lsn_to_int(flushed) > 0
    finally:
        cap.close()

    got: list = []
    q = (
        landing_stream(spark, landing)
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert len(got) == 44
    assert sorted(r.seq for r in got) == list(range(44))
    assert all(r.ts is not None for r in got)
    pgl.drop_slot(pg, "lws_slot")


def test_pgoutput_multi_table_transaction_atomicity(spark, pg):
    """pgshovel's transaction grouping, live: one transaction touching
    TWO published tables decodes as one txid block in commit order —
    an aborted transaction leaves no trace, and envelope consumers can
    reassemble atomic units on (txid) exactly like the reference's
    transaction-scoped mutation batches."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table mta_a(id int primary key, v text)")
        c.query("create table mta_b(id int primary key, v text)")
    po.create_publication(pg, "mta_pub", ["mta_a", "mta_b"])
    po.create_slot_pgoutput(pg, "mta_slot")
    with pg.connect() as c:
        # txn 1: writes to both tables atomically
        c.query(
            "begin; insert into mta_a values (1, 'a1');"
            " insert into mta_b values (1, 'b1');"
            " insert into mta_a values (2, 'a2'); commit"
        )
        # txn 2: rolled back — must not appear at all
        c.query(
            "begin; insert into mta_a values (99, 'ghost');"
            " insert into mta_b values (99, 'ghost'); rollback"
        )
        # txn 3: single table
        c.query("insert into mta_b values (2, 'b2')")
    df, _ = po.pull_changes_pgoutput(spark, pg, "mta_slot", "mta_pub")
    rows = df.orderBy("seq").collect()
    assert [(r.table, r.after["id"]) for r in rows] == [
        ("public.mta_a", "1"), ("public.mta_b", "1"),
        ("public.mta_a", "2"), ("public.mta_b", "2"),
    ]
    # one txid spans the multi-table block; the ghost txn left nothing
    txids = [r.txid for r in rows]
    assert txids[0] == txids[1] == txids[2] != txids[3]
    assert all(r.after["v"] != "ghost" for r in rows)
    # commit timestamp is constant WITHIN a transaction
    assert rows[0].ts == rows[1].ts == rows[2].ts
    pgl.drop_slot(pg, "mta_slot")


def test_pgoutput_tuple_roundtrip_property():
    """Property: ANY column values (unicode, quotes, newlines, NULs
    are impossible in PG text but control chars aren't, empty strings,
    NULLs) survive encode -> parse exactly, for any column count and
    any key subset — the decoder never truncates, merges, or reorders
    values."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pgshovel_spark.sources import pgoutput as po

    text_val = st.text(
        alphabet=st.characters(blacklist_characters="\x00", max_codepoint=0x2FFF),
        max_size=60,
    )
    cols_strategy = st.lists(
        st.tuples(st.booleans(), st.one_of(st.none(), text_val)),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=150, deadline=None)
    @given(cols=cols_strategy)
    def check(cols):
        names = [f"c{i}" for i in range(len(cols))]
        keys = [n for n, (is_key, _) in zip(names, cols) if is_key]
        rel = _msg_relation(7, "public", "t", names, keys)
        ins = (
            b"I"
            + __import__("struct").pack("!i", 7)
            + b"N"
            + _tuple_data([v for _, v in cols])
        )
        out = po.parse_pgoutput(
            [
                ("0/1", 5, _msg_begin()),
                ("0/2", 5, rel),
                ("0/3", 5, ins),
                ("0/4", 5, b"C\x00" + __import__("struct").pack("!qqq", 0, 0, 0)),
            ]
        )
        assert len(out) == 1
        got = out[0]["after"]
        assert list(got.keys()) == names  # order and completeness
        for n, (_, v) in zip(names, cols):
            assert got[n] == v
        expect_key = {
            n: v for n, (is_key, v) in zip(names, cols) if is_key
        }
        assert (out[0]["key"] or {}) == expect_key

    check()


# ---------------------------------------------------------------------------
# round-10 self-review regression tests
# ---------------------------------------------------------------------------


def test_test_decoding_truncate_decodes(spark, pg):
    """TRUNCATE must decode on the test_decoding path (parity with
    pgoutput 'T') — the strict unparseable-line rule would otherwise
    wedge the capture loop forever on the first truncation."""
    with pg.connect() as c:
        c.query("create table tdtr_a(id int primary key)")
        c.query("create table tdtr_b(id int primary key)")
        pgl.create_slot(pg, "tdtr_slot")
        c.query("insert into tdtr_a values (1)")
        c.query("truncate tdtr_a, tdtr_b")
        c.query("insert into tdtr_a values (2)")
    df, lsn = pgl.pull_changes(spark, pg, "tdtr_slot")
    rows = df.orderBy("seq").collect()
    assert [r.op for r in rows] == ["INSERT", "TRUNCATE", "TRUNCATE", "INSERT"]
    assert {rows[1].table, rows[2].table} == {"public.tdtr_a", "public.tdtr_b"}
    pgl.drop_slot(pg, "tdtr_slot")


class _TimeoutScriptedSock(_ScriptedSock):
    """Scripted sock that raises TimeoutError when drained (instead of
    'closed'), and accepts appended script — models an idle-then-active
    live replication socket."""

    def recv(self, n: int) -> bytes:
        if self._pos >= len(self._stream):
            raise TimeoutError("idle")
        return super().recv(n)

    def feed(self, b: bytes) -> None:
        self._stream += b


def _xlog(start: int, body: bytes) -> bytes:
    import struct as st

    inner = b"w" + st.pack("!qqq", start, start, 0) + body
    return _wire_msg(b"d", inner)


def _keepalive(end: int, reply: int) -> bytes:
    import struct as st

    return _wire_msg(b"d", b"k" + st.pack("!qqB", end, 0, reply))


def _scripted_stream(initial: bytes):
    from pgshovel_spark.sources.pgoutput import ReplicationStream

    conn = _scripted_conn(initial)
    conn._sock = _TimeoutScriptedSock(initial)
    from pgshovel_spark.sources.pgwire import _BufferedSock

    conn._rd = _BufferedSock(conn._sock)
    return ReplicationStream(conn), conn._sock


def test_walsender_deadline_keeps_open_transaction_pending():
    """A read() deadline landing MID-TRANSACTION must not drop the
    frames already consumed off the socket: they stay pending and the
    next read() completes the transaction losslessly — on a live
    stream the server never resends them."""
    import struct as st

    rel = _msg_relation(99, "public", "t", ["id", "v"], ["id"])
    ins1 = b"I" + st.pack("!i", 99) + b"N" + _tuple_data([1, "a"])
    ins2 = b"I" + st.pack("!i", 99) + b"N" + _tuple_data([2, "b"])
    commit = b"C\x00" + st.pack("!qqq", 0, 0, 820540800000000)

    # first half of the txn arrives, then the socket goes idle
    stream, sock = _scripted_stream(
        _xlog(16, _msg_begin(xid=41)) + _xlog(17, rel) + _xlog(18, ins1)
    )
    assert stream.read(max_seconds=0.3) == []  # deadline, nothing lost
    # the rest arrives later
    sock.feed(_xlog(19, ins2) + _xlog(20, commit))
    out = stream.read(max_seconds=2.0)
    assert [c["after"]["id"] for c in out] == ["1", "2"]
    # walsender transport xid is 0: Begin's xid must backfill
    assert [c["txid"] for c in out] == [41, 41]


def test_walsender_keepalive_confirms_only_flushed():
    """Keepalive auto-replies must report the last CALLER-confirmed
    flush position, never the raw receive position — confirming
    received-but-unlanded WAL lets a crash skip it forever."""
    import struct as st

    stream, sock = _scripted_stream(_keepalive(500, 1))
    assert stream.read(max_seconds=0.3) == []
    assert stream.wal_end == 500
    # the auto-reply carried flush 0 (nothing confirmed yet)
    assert sock.sent
    body = sock.sent[5:]  # strip CopyData frame header
    assert body[:1] == b"r"
    written, flushed, applied = st.unpack("!qqq", body[1:25])
    assert (written, flushed, applied) == (0, 0, 0)

    # after the caller confirms, replies carry that position
    sock.sent = b""
    stream.send_status(123)
    sock.feed(_keepalive(900, 1))
    stream.read(max_seconds=0.3)
    last = sock.sent[len(sock.sent) - 39 :]  # last status frame
    written, flushed, applied = st.unpack("!qqq", last[6:30])
    assert flushed == 123  # not 900 (wal_end)


def test_buffered_sock_timeout_preserves_partial_bytes():
    """read_exact interrupted by a recv timeout mid-frame must keep
    the partial bytes buffered so the retried call resumes exactly —
    dropping them desyncs the protocol framing."""
    import pytest as _p

    from pgshovel_spark.sources.pgwire import _BufferedSock

    class Flaky:
        def __init__(self):
            self.calls = 0

        def recv(self, n):
            self.calls += 1
            if self.calls == 1:
                return b"ab"
            if self.calls == 2:
                raise TimeoutError("slow")
            return b"cdef"

    rd = _BufferedSock(Flaky())
    with _p.raises(TimeoutError):
        rd.read_exact(4)
    assert rd.read_exact(4) == b"abcd"  # partial 'ab' was preserved
    assert rd.read_exact(2) == b"ef"


def test_landing_replay_superset_replaces_existing_batch_dir(spark, pg, tmp_path):
    """The REAL crash window: parquet dir renamed, seq base not yet
    persisted, slot not yet advanced.  The restarted capture's replay
    pull is UNBOUNDED — it returns the original batch PLUS anything
    committed since — so the replay must REPLACE the existing
    directory (skipping it would confirm the new rows without landing
    them), must not raise path-exists, and the landed stream must
    carry every committed row exactly once at dense seqs."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pglanding import LandingCapture, landing_stream

    with pg.connect() as c:
        c.query("create table lrp_t(id int primary key)")
    po.create_publication(pg, "lrp_pub", ["lrp_t"])
    po.create_slot_pgoutput(pg, "lrp_slot")
    landing = str(tmp_path / "landing")
    cap = LandingCapture(spark, pg, "lrp_slot", landing, publication="lrp_pub")
    with pg.connect() as c:
        c.query("insert into lrp_t values (1), (2), (3)")
    # crash window: land WITHOUT advancing the slot or (then) the seq
    df, _lsn = po.pull_changes_pgoutput(spark, pg, "lrp_slot", "lrp_pub")
    cap._land(df, 3)
    with open(f"{landing}/_seq_base", "w") as f:
        f.write("0")  # seq persist "lost" in the crash
    # more commits happen before the restart
    with pg.connect() as c:
        c.query("insert into lrp_t values (4), (5), (6)")
    cap2 = LandingCapture(spark, pg, "lrp_slot", landing, publication="lrp_pub")
    assert cap2.seq_base == 0
    assert cap2.pull_once() == 6  # superset replay over the old b_0
    assert cap2.seq_base == 6 and cap2.pull_once() == 0

    got: list = []
    q = (
        landing_stream(spark, landing)
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert sorted(int(r.after["id"]) for r in got) == [1, 2, 3, 4, 5, 6]
    assert sorted(r.seq for r in got) == list(range(6))
    pgl.drop_slot(pg, "lrp_slot")


def test_landing_walsender_survives_backend_kill(spark, pg, tmp_path):
    """Failover resilience: pg_terminate_backend on the walsender mid-
    capture must not lose or duplicate landed data — the capture loop
    reconnects, the slot replays everything past confirmed_flush_lsn,
    and the landed union equals the committed workload exactly."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pglanding import LandingCapture, landing_stream

    with pg.connect() as c:
        c.query("create table fok_t(id int primary key, v text)")
    po.create_publication(pg, "fok_pub", ["fok_t"])
    po.create_slot_pgoutput(pg, "fok_slot")
    landing = str(tmp_path / "landing")
    cap = LandingCapture(
        spark, pg, "fok_slot", landing,
        publication="fok_pub", transport="walsender",
    )
    try:
        with pg.connect() as c:
            c.query("insert into fok_t select g, 'a' || g from generate_series(1, 20) g")
        assert cap.pull_once(max_seconds=8.0) == 20

        # kill the walsender backend under the live session
        with pg.connect() as c:
            killed = c.query(
                "select pg_terminate_backend(active_pid)"
                " from pg_replication_slots where slot_name = 'fok_slot'"
            )[0].rows[0][0]
        assert killed is True
        with pg.connect() as c:
            c.query("insert into fok_t select g, 'b' || g from generate_series(21, 35) g")
        # first pull hits the dead socket, reconnects, and captures
        got = 0
        for _ in range(5):
            got += cap.pull_once(max_seconds=8.0)
            if got >= 15:
                break
        assert got == 15
    finally:
        cap.close()

    rows: list = []
    q = (
        landing_stream(spark, landing)
        .writeStream.foreachBatch(lambda b, _i: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    ids = sorted(int(r.after["id"]) for r in rows)
    assert ids == list(range(1, 36))  # nothing lost, nothing duplicated
    pgl.drop_slot(pg, "fok_slot")


def test_walsender_interleaved_stream_segments_survive_commit_parse():
    """v2 interleaving: a small transaction COMMITS between a large
    streamed transaction's segments.  The commit-triggered parse must
    not discard the open stream's already-consumed segments — they
    persist in the stream state and the eventual StreamCommit emits
    the COMPLETE transaction."""
    import struct as st

    rel = _msg_relation(99, "public", "t", ["id", "v"], ["id"])

    def s_ins(xid, i):
        return (b"I" + st.pack("!i", xid) + st.pack("!i", 99)
                + b"N" + _tuple_data([i, f"v{i}"]))

    TS = 820540800000000
    stream, sock = _scripted_stream(
        # segment 1 of streamed txn 70 (relation inside the stream)
        _xlog(10, b"S" + st.pack("!iB", 70, 1))
        + _xlog(11, b"R" + st.pack("!i", 70) + rel[1:])
        + _xlog(12, s_ins(70, 1))
        + _xlog(13, b"E")
        # small txn 80 commits in between -> triggers a parse
        + _xlog(20, _msg_begin(TS, 80))
        + _xlog(21, b"I" + st.pack("!i", 99) + b"N" + _tuple_data([50, "mid"]))
        + _xlog(22, b"C\x00" + st.pack("!qqq", 0, 0, TS))
    )
    first = stream.read(max_seconds=1.0)
    assert [c["after"]["id"] for c in first] == ["50"]  # txn 80 only
    # the streamed txn's tail arrives and commits
    sock.feed(
        _xlog(30, b"S" + st.pack("!iB", 70, 0))
        + _xlog(31, s_ins(70, 2))
        + _xlog(32, b"E")
        + _xlog(33, b"c" + st.pack("!iBqqq", 70, 0, 0, 0, TS))
    )
    second = stream.read(max_seconds=2.0)
    # BOTH segments' rows: segment 1 was not lost to the earlier parse
    assert [c["after"]["id"] for c in second] == ["1", "2"]
    assert all(c["txid"] == 70 and c["ts"] is not None for c in second)


# ---------------------------------------------------------------------------
# native streaming source: spark.readStream.format("pgshovel")
# ---------------------------------------------------------------------------


def _wait_for(cond, timeout=90.0):
    import time

    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return True
        time.sleep(0.25)
    return cond()


def test_pgdatasource_offset_algebra_unit():
    """Offset slicing without a server: positions key on COMMIT lsn —
    a transaction that started early and committed late arrives with
    change lsns LOWER than already-delivered ones and must still be
    delivered (the interleaved-transaction ordering hazard)."""
    from pgshovel_spark.sources.pgdatasource import PgShovelSimpleStreamReader

    rdr = PgShovelSimpleStreamReader(
        {"sockdir": "/nonexistent", "slot": "s", "plugin": "test_decoding"}
    )

    def ch(op, commit_lsn, change_lsn, key):
        return {
            "op": op, "table": "t", "key": {"id": str(key)},
            "before": None, "after": {"id": str(key)},
            "txid": 7, "ts": None,
            "lsn": change_lsn, "commit_lsn": commit_lsn,
        }

    # batch 1: txn B (commit 0/120) only — txn A still open
    b1 = [ch("INSERT", "0/120", "0/110", 1)]
    rows1, end1, _adv = rdr._slice(b1, {"lsn": 0, "idx": 0, "seq": 0}, None)
    assert len(rows1) == 1 and rows1[0][9] == 0  # seq 0
    # batch 2 re-peeks batch 1 PLUS txn A (commit 0/130, change lsn
    # 0/100 — LOWER than everything already seen) with two changes
    b2 = b1 + [ch("INSERT", "0/130", "0/100", 2), ch("UPDATE", "0/130", "0/105", 2)]
    rows2, end2, _adv = rdr._slice(b2, end1, None)
    assert [r[0] for r in rows2] == ["INSERT", "UPDATE"]
    assert [r[9] for r in rows2] == [1, 2]  # dense seq continuation
    assert end2["seq"] == 3 and end2["lsn"] > end1["lsn"]
    # replay of the already-planned range is exact
    rows_replay, got, _adv = rdr._slice(b2, end1, end2)
    assert rows_replay == rows2 and got == end2
    # a short replay (slot advanced externally) must raise, not ship
    import pytest as _p

    short = b1  # txn A's rows vanished
    with _p.raises(RuntimeError, match="cannot replay"):
        rdr._peek_parse = lambda: short
        list(rdr.readBetweenOffsets(end1, end2))


def test_pgdatasource_stream_capture(spark, pg, tmp_path):
    """The native source end-to-end live: readStream.format('pgshovel')
    over a pgoutput slot — CHANGE_SCHEMA rows, dense global seq across
    micro-batches, and the slot watermark advanced by Spark's OWN
    commit (checkpoint-native exactly-once, no landing directory)."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table nds_t(id int primary key, v text)")
    po.create_publication(pg, "nds_pub", ["nds_t"])
    po.create_slot_pgoutput(pg, "nds_slot")
    with pg.connect() as c:
        c.query("insert into nds_t select g, 'a' || g from generate_series(1, 30) g")
        c.query("update nds_t set v = 'u' where id <= 5")
        c.query("delete from nds_t where id = 9")
        wal_after = c.one("select pg_current_wal_lsn()::text")

    register_pgshovel(spark)
    got: list = []
    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("slot", "nds_slot")
        .option("publication", "nds_pub")
        .load()
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        assert _wait_for(lambda: len(got) == 36), f"got {len(got)} rows"
        assert sorted(r.seq for r in got) == list(range(36))
        assert {r.op for r in got} == {"INSERT", "UPDATE", "DELETE"}
        ins = [r for r in got if r.op == "INSERT"]
        assert len(ins) == 30 and all(r.key["id"] for r in ins)
        assert all(r.ts is not None for r in got)
        assert all(r.publisher == "nds_slot" for r in got)

        # Spark's batch commit advanced the slot watermark past the
        # captured transactions (the landing path needed its own
        # watermark file for this; here the checkpoint IS the ledger).
        # Read pg_replication_slots, NOT a peek — a concurrent peek
        # would contend on the slot's active lock with the source's
        # own pull ("slot is active for PID", 55006).
        def _advanced():
            with pg.connect() as c:
                flushed = c.one(
                    "select confirmed_flush_lsn::text from"
                    " pg_replication_slots where slot_name = 'nds_slot'"
                )
            return po.lsn_to_int(flushed) >= po.lsn_to_int(wal_after) - (1 << 16)

        assert _wait_for(_advanced)

        # live tail: a new transaction lands while the query runs
        with pg.connect() as c:
            c.query("insert into nds_t values (99, 'late')")
        assert _wait_for(lambda: len(got) == 37), f"got {len(got)} rows"
        late = [r for r in got if r.seq == 36]
        assert late and late[0].after["v"] == "late"
    finally:
        q.stop()
    pgl.drop_slot(pg, "nds_slot")


def test_pgdatasource_checkpoint_restart_exactly_once(spark, pg, tmp_path):
    """Kill/resume through Spark's checkpoint recovery: stop the
    query, write MORE transactions while it is down, restart from the
    SAME checkpointLocation — every change arrives exactly once with
    the dense seq unbroken across the restart (the at-least-once/
    exactly-once split of the landing bridge collapses to one story)."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table ndr_t(id int primary key, v text)")
    po.create_publication(pg, "ndr_pub", ["ndr_t"])
    po.create_slot_pgoutput(pg, "ndr_slot")
    register_pgshovel(spark)
    ckpt = str(tmp_path / "ckpt")
    batches: dict = {}

    def got():  # batchId-idempotent collector (replay-safe)
        return [r for _b, rows in sorted(batches.items()) for r in rows]

    def _start():
        return (
            spark.readStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("slot", "ndr_slot")
            .option("publication", "ndr_pub")
            .load()
            .writeStream.foreachBatch(
                lambda b, i: batches.__setitem__(i, b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    with pg.connect() as c:
        c.query("insert into ndr_t select g, 'x' || g from generate_series(1, 20) g")
    q = _start()
    try:
        assert _wait_for(lambda: len(got()) == 20), f"got {len(got())}"
    finally:
        q.stop()
        q.awaitTermination(30)

    # writes while the consumer is DOWN (three separate transactions)
    with pg.connect() as c:
        c.query("insert into ndr_t select g, 'y' || g from generate_series(21, 25) g")
        c.query("update ndr_t set v = 'u1' where id = 1")
        c.query("delete from ndr_t where id = 2")

    q = _start()
    try:
        assert _wait_for(lambda: len(got()) == 27), f"got {len(got())}"
        # exactly once: no duplicates, no loss, dense seq over restart
        assert sorted(r.seq for r in got()) == list(range(27))
        assert sum(1 for r in got() if r.op == "DELETE") == 1
        assert sum(1 for r in got() if r.op == "UPDATE") == 1
    finally:
        q.stop()
        q.awaitTermination(30)
    pgl.drop_slot(pg, "ndr_slot")


def test_pgdatasource_test_decoding_plugin(spark, pg, tmp_path):
    """The same source over the SQL-reachable test_decoding plugin
    with caller-supplied key columns — plugin choice is an option, not
    a code path consumers can see."""
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table ntd_t(id int primary key, v text)")
    pgl.create_slot(pg, "ntd_slot")
    with pg.connect() as c:
        c.query("insert into ntd_t values (1, 'a'), (2, 'b')")
        c.query("delete from ntd_t where id = 1")

    register_pgshovel(spark)
    got: list = []
    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("slot", "ntd_slot")
        .option("plugin", "test_decoding")
        .option("key_cols", '{"ntd_t": ["id"]}')
        .load()
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        assert _wait_for(lambda: len(got) == 3), f"got {len(got)}"
        assert sorted(r.seq for r in got) == [0, 1, 2]
        d = [r for r in got if r.op == "DELETE"][0]
        assert d.key == {"id": "1"} and d.ts is not None
    finally:
        q.stop()
    pgl.drop_slot(pg, "ntd_slot")


def test_pgoutput_decoder_malformed_metadata():
    """Round-11 fuzz extension (r10 verdict ask #5): Origin/Type/
    Message frames and v2 Stream* frames are PARSED field-by-field —
    well-formed ones pass through silently, truncated/corrupt ones
    raise the declared descriptive error.  Table-driven; no silent
    skips: a framing desync must never masquerade as 'metadata we
    don't care about'."""
    import struct as st

    import pytest as _p

    from pgshovel_spark.sources import pgoutput as po

    TS = 820540800000000
    rel = _msg_relation(99, "public", "t", ["id", "v"], ["id"])
    ins = b"I" + st.pack("!i", 99) + b"N" + _tuple_data([1, "a"])
    commit = b"C\x00" + st.pack("!qqq", 0, 0, TS)

    def origin(name=b"node_a"):
        return b"O" + st.pack("!q", 0x15D3AB8) + name + b"\x00"

    def typemsg(oid=16384, ns=b"public", name=b"mood"):
        return b"Y" + st.pack("!i", oid) + ns + b"\x00" + name + b"\x00"

    def logmsg(prefix=b"app", content=b"hello"):
        return (b"M" + b"\x01" + st.pack("!q", 0x10)
                + prefix + b"\x00" + st.pack("!i", len(content)) + content)

    # 1. WELL-FORMED metadata interleaved with DML: decodes clean,
    #    metadata leaves no trace in the change list
    msgs = [
        ("0/10", 1, _msg_begin(TS, 1)),
        ("0/11", 1, origin()),
        ("0/12", 1, typemsg()),
        ("0/13", 1, rel),
        ("0/14", 1, logmsg()),
        ("0/15", 1, ins),
        ("0/16", 1, commit),
    ]
    out = po.parse_pgoutput(msgs)
    assert [(c["op"], c["after"]["id"]) for c in out] == [("INSERT", "1")]

    # 2. MALFORMED metadata/stream frames: declared exceptions, table-
    #    driven (payload, error-regex)
    base = [("0/10", 1, _msg_begin(TS, 1)), ("0/11", 1, rel)]
    CASES = [
        # Origin
        (b"O", "truncated"),                              # no lsn
        (b"O" + st.pack("!q", 1)[:5], "truncated"),       # lsn cut
        (b"O" + st.pack("!q", 1) + b"noterm", "unterminated"),
        # Type
        (b"Y", "truncated"),                              # no oid
        (b"Y" + st.pack("!i", 1)[:2], "truncated"),       # oid cut
        (b"Y" + st.pack("!i", 1) + b"ns\x00noterm", "unterminated"),
        # Message
        (b"M", "truncated"),                              # no flags
        (b"M\x01" + st.pack("!q", 1)[:4], "truncated"),   # lsn cut
        (b"M\x01" + st.pack("!q", 1) + b"p\x00" + st.pack("!i", 99)
         + b"xx", "truncated"),                           # over-declared len
        (b"M\x01" + st.pack("!q", 1) + b"p\x00" + st.pack("!i", -5),
         "negative pgoutput Message content length"),
        # v2 Stream* frames
        (b"S" + st.pack("!i", 7)[:2], "truncated"),       # StreamStart xid cut
        (b"S" + st.pack("!i", 7), "truncated"),           # missing first-flag
        (b"c" + st.pack("!iB", 7, 0) + st.pack("!q", 0)[:3],
         "truncated"),                                    # StreamCommit lsn cut
        (b"A" + st.pack("!i", 7), "truncated"),           # StreamAbort one xid
    ]
    for payload, pat in CASES:
        with _p.raises(ValueError, match=pat):
            po.parse_pgoutput(base + [("0/12", 1, payload)])

    # 3. INSIDE a v2 stream segment: Y/M are xid-prefixed; a frame cut
    #    inside the prefix itself still fails loudly
    stream_base = [("0/20", 7, b"S" + st.pack("!iB", 7, 1))]
    for payload in (b"Y" + st.pack("!i", 7)[:2],          # xid prefix cut
                    b"M" + st.pack("!i", 7)):             # prefix ok, no flags
        with _p.raises(ValueError, match="truncated"):
            po.parse_pgoutput(stream_base + [("0/21", 7, payload)])

    # 4. well-formed xid-prefixed Type/Message INSIDE a stream pass
    #    through; the stream's DML still assembles on StreamCommit
    v2 = [
        ("0/20", 7, b"S" + st.pack("!iB", 7, 1)),
        ("0/21", 7, b"Y" + st.pack("!i", 7) + typemsg()[1:]),
        ("0/22", 7, b"M" + st.pack("!i", 7) + logmsg()[1:]),
        ("0/23", 7, b"R" + st.pack("!i", 7) + rel[1:]),
        ("0/24", 7, b"I" + st.pack("!i", 7) + ins[1:]),
        ("0/25", 7, b"E"),
        ("0/26", 7, b"c" + st.pack("!iBqqq", 7, 0, 0, 0, TS)),
    ]
    out = po.parse_pgoutput(v2)
    assert [(c["txid"], c["after"]["id"]) for c in out] == [(7, "1")]
    assert out[0]["ts"] is not None


def test_pgoutput_origin_filter_unit():
    """Decoder-side replication-origin filter (round 11): origin='none'
    drops a foreign-origin transaction ATOMICALLY at commit — plain
    and v2-streamed framing, including an Origin mark whose stream
    commits in a LATER parse call (persistent streams dict)."""
    import struct as st

    import pytest as _p

    from pgshovel_spark.sources import pgoutput as po

    TS = 820540800000000
    rel = _msg_relation(99, "public", "t", ["id", "v"], ["id"])
    origin_msg = b"O" + st.pack("!q", 0x99) + b"node_b\x00"

    def txn(xid, ids, with_origin):
        out = [("0/%X" % (xid * 16), xid, _msg_begin(TS, xid))]
        if with_origin:
            out.append(("0/%X" % (xid * 16 + 1), xid, origin_msg))
        for j, i in enumerate(ids):
            out.append(("0/%X" % (xid * 16 + 2 + j), xid,
                        b"I" + st.pack("!i", 99) + b"N" + _tuple_data([i, "x"])))
        out.append(("0/%X" % (xid * 16 + 9), xid,
                    b"C\x00" + st.pack("!qqq", 0, 0, TS)))
        return out

    msgs = ([("0/1", 1, rel)]
            + txn(2, [1, 2], with_origin=False)
            + txn(3, [3], with_origin=True)       # foreign
            + txn(4, [4], with_origin=False))
    keep_all = po.parse_pgoutput(msgs, origin="any")
    assert [c["after"]["id"] for c in keep_all] == ["1", "2", "3", "4"]
    local_only = po.parse_pgoutput(msgs, origin="none")
    assert [c["after"]["id"] for c in local_only] == ["1", "2", "4"]

    with _p.raises(ValueError, match="origin must be"):
        po.parse_pgoutput(msgs, origin="weird")

    # v2 streamed txn: Origin in segment 1 (call 1), data + commit in
    # call 2 — the mark must survive in the persistent streams dict
    streams: dict = {}
    rels: dict = {}
    seg1 = [
        ("0/20", 7, b"S" + st.pack("!iB", 7, 1)),
        ("0/21", 7, origin_msg),                  # NOT xid-prefixed
        ("0/22", 7, b"R" + st.pack("!i", 7) + rel[1:]),
        ("0/23", 7, b"I" + st.pack("!i", 7) + st.pack("!i", 99)
         + b"N" + _tuple_data([10, "s"])),
        ("0/24", 7, b"E"),
    ]
    assert po.parse_pgoutput(seg1, rels, streams, origin="none") == []
    seg2 = [
        ("0/30", 7, b"S" + st.pack("!iB", 7, 0)),
        ("0/31", 7, b"I" + st.pack("!i", 7) + st.pack("!i", 99)
         + b"N" + _tuple_data([11, "s"])),
        ("0/32", 7, b"E"),
        ("0/33", 7, b"c" + st.pack("!iBqqq", 7, 0, 0, 0, TS)),
    ]
    assert po.parse_pgoutput(seg2, rels, streams, origin="none") == []
    assert streams == {}  # mark cleaned up with the dropped txn
    # same frames under origin='any' deliver both segments' rows
    streams2: dict = {}
    rels2: dict = {}
    po.parse_pgoutput(seg1, rels2, streams2, origin="any")
    out = po.parse_pgoutput(seg2, rels2, streams2, origin="any")
    assert [c["after"]["id"] for c in out] == ["10", "11"]


def test_pgoutput_origin_filter_live(spark, pg):
    """Origin filter against a REAL server: a session marked with
    pg_replication_origin_session_setup writes one transaction; under
    origin='none' the decoder drops it, under 'any' it arrives — the
    loop-prevention a bidirectional topology needs, without requiring
    the PG16 server-side option."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table orig_t(id int primary key, v text)")
    po.create_publication(pg, "orig_pub", ["orig_t"])
    po.create_slot_pgoutput(pg, "orig_slot")

    with pg.connect() as c:
        c.query("insert into orig_t values (1, 'local')")
    with pg.connect() as c:  # a REPLICATED session (has an origin)
        c.query("select pg_replication_origin_create('peer_node')")
        c.query("select pg_replication_origin_session_setup('peer_node')")
        c.query("insert into orig_t values (2, 'from_peer')")
        c.query("select pg_replication_origin_session_reset()")
    with pg.connect() as c:
        c.query("insert into orig_t values (3, 'local2')")

    df_all, _ = po.pull_changes_pgoutput(
        spark, pg, "orig_slot", "orig_pub", origin="any"
    )
    ids_all = sorted(r.after["id"] for r in df_all.collect())
    assert ids_all == ["1", "2", "3"]
    df_local, _ = po.pull_changes_pgoutput(
        spark, pg, "orig_slot", "orig_pub", origin="none"
    )
    ids_local = sorted(r.after["id"] for r in df_local.collect())
    assert ids_local == ["1", "3"]
    pgl.drop_slot(pg, "orig_slot")


# ---------------------------------------------------------------------------
# native streaming SINK: writeStream.format("pgshovel") (2PC upsert)
# ---------------------------------------------------------------------------


def test_pgupsert_sink_two_phase_live(spark, pg, tmp_path):
    """The native write half: a file-backed stream of keyed rows
    upserts into a live Postgres table through PREPARE TRANSACTION /
    COMMIT PREPARED; stale replays lose to the newer-guard; no
    prepared transaction survives a clean run."""
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query(
            "create table ups_t(id bigint primary key, v text,"
            " epoch bigint, seq bigint)"
        )
    register_pgshovel(spark)

    src_dir = str(tmp_path / "in")
    rows1 = [(i, f"a{i}", 1, i) for i in range(200)]
    spark.createDataFrame(rows1, "id long, v string, epoch long, seq long")\
        .coalesce(2).write.mode("append").parquet(src_dir)

    def run(ckpt):
        q = (
            spark.readStream.schema("id long, v string, epoch long, seq long")
            .parquet(src_dir)
            .writeStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("table", "ups_t")
            .option("keys", "id")
            .option("order_cols", "epoch,seq")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ck1"))
    with pg.connect() as c:
        n = c.one("select count(*) from ups_t")
        assert n == 200
        assert c.one("select v from ups_t where id = 7") == "a7"
        assert c.one("select count(*) from pg_prepared_xacts") == 0

    # second wave: 100 genuine updates (epoch 2) + 50 STALE rows
    # (epoch 0 — must lose) + 20 new keys
    rows2 = ([(i, f"b{i}", 2, i) for i in range(100)]
             + [(i, "stale", 0, 0) for i in range(100, 150)]
             + [(i, f"n{i}", 1, i) for i in range(200, 220)])
    spark.createDataFrame(rows2, "id long, v string, epoch long, seq long")\
        .coalesce(3).write.mode("append").parquet(src_dir)
    run(str(tmp_path / "ck1"))  # same checkpoint: only new files run
    with pg.connect() as c:
        assert c.one("select count(*) from ups_t") == 220
        assert c.one("select v from ups_t where id = 7") == "b7"      # updated
        assert c.one("select v from ups_t where id = 120") == "a120"  # stale lost
        assert c.one("select v from ups_t where id = 210") == "n210"  # inserted
        assert c.one("select count(*) from pg_prepared_xacts") == 0


def test_pgupsert_sink_orphan_recovery(spark, pg, tmp_path):
    """A prepared transaction orphaned by a crash between task PREPARE
    and driver COMMIT PREPARED holds row locks; query start must roll
    it back or the replayed batch deadlocks."""
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query(
            "create table orph_t(id bigint primary key, v text,"
            " epoch bigint, seq bigint)"
        )
        # simulate the crash leftover: a prepared txn under the sink's
        # gid prefix holding a lock on id=1
        c.query("begin")
        c.query("insert into orph_t values (1, 'orphan', 1, 1)")
        c.query("prepare transaction 'pgshovel2pc_orph_t_b0_rdeadrun_cafe01'")
    with pg.connect() as c:
        assert c.one("select count(*) from pg_prepared_xacts") == 1

    register_pgshovel(spark)
    src_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "fresh", 2, 1), (2, "x", 1, 1)],
        "id long, v string, epoch long, seq long",
    ).write.mode("append").parquet(src_dir)
    q = (
        spark.readStream.schema("id long, v string, epoch long, seq long")
        .parquet(src_dir)
        .writeStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("table", "orph_t")
        .option("keys", "id")
        .option("order_cols", "epoch,seq")
        .option("lock_timeout_ms", "2000")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    with pg.connect() as c:
        assert c.one("select count(*) from pg_prepared_xacts") == 0
        assert c.one("select v from orph_t where id = 1") == "fresh"
        assert c.one("select count(*) from orph_t") == 2


def test_pg_native_relay_source_to_sink(spark, pg, tmp_path):
    """The FULL native relay, one Spark query, zero landing files:
    live writes -> pgoutput slot -> readStream.format('pgshovel') ->
    flatten -> writeStream.format('pgshovel') 2PC upsert into a
    SECOND live table — Postgres-to-Postgres CDC through Spark with
    the checkpoint as the only ledger; end state exact."""
    from pyspark.sql import functions as F

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table relay_src(id bigint primary key, v text)")
        c.query(
            "create table relay_dst(id bigint primary key, v text,"
            " epoch bigint, seq bigint)"
        )
    po.create_publication(pg, "relay_pub", ["relay_src"])
    po.create_slot_pgoutput(pg, "relay_slot")
    with pg.connect() as c:
        c.query("insert into relay_src select g, 'v' || g from generate_series(1, 300) g")
        c.query("update relay_src set v = 'u' || id where id <= 40")

    register_pgshovel(spark)
    flat = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("slot", "relay_slot")
        .option("publication", "relay_pub")
        .load()
        .filter(F.col("op") != "DELETE")
        .select(
            F.col("after")["id"].cast("long").alias("id"),
            F.col("after")["v"].alias("v"),
            F.col("epoch"),
            F.col("seq"),
        )
        .filter(F.col("id").isNotNull())
        # 2PC requirement: key-disjoint partitions (see sink docstring)
        .repartition(4, "id")
    )
    q = (
        flat.writeStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("table", "relay_dst")
        .option("keys", "id")
        .option("order_cols", "epoch,seq")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        def _synced():
            with pg.connect() as c:
                return c.one(
                    "select count(*) from relay_dst where v like 'u%'"
                ) == 40 and c.one("select count(*) from relay_dst") == 300
        assert _wait_for(_synced), "relay did not converge"
        # live tail through the running relay
        with pg.connect() as c:
            c.query("insert into relay_src values (999, 'late')")
        assert _wait_for(lambda: pg.connect().__enter__().one(
            "select count(*) from relay_dst where id = 999") == 1)
        with pg.connect() as c:
            src = c.query("select id, v from relay_src order by id")[0].rows
            dst = c.query("select id, v from relay_dst order by id")[0].rows
        assert src == dst
    finally:
        q.stop()
    pgl.drop_slot(pg, "relay_slot")


# ---------------------------------------------------------------------------
# native BATCH source: spark.read.format("pgshovel") (snapshot bootstrap)
# ---------------------------------------------------------------------------


def test_pgbatch_reader_pushdown_unit():
    """pushFilters contract: supported conjuncts render into the
    remote WHERE (and are REMOVED from Spark's post-scan set),
    unsupported ones are returned by reference."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        IsNotNull,
        StringStartsWith,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pgshovel_spark.sources.pgdatasource import PgShovelBatchReader

    sch = StructType([
        StructField("id", LongType()),
        StructField("v", StringType()),
    ])
    rdr = PgShovelBatchReader(
        {"sockdir": "/nonexistent", "table": "t", "partition_col": "id"}, sch
    )
    fs = [
        EqualTo(("id",), 7),
        GreaterThan(("id",), 3),
        In(("v",), ("a", "o'brien")),
        IsNotNull(("v",)),
        StringStartsWith(("v",), "x"),   # unsupported -> stays with Spark
        EqualTo(("nope",), 1),           # unknown column -> stays with Spark
    ]
    left = list(rdr.pushFilters(fs))
    assert left == [fs[4], fs[5]]
    assert rdr.pushed_sql == [
        "id = 7", "id > 3", "v in ('a', 'o''brien')", "v is not null"
    ]


def test_pgbatch_source_snapshot_bootstrap(spark, pg):
    """The native partitioned scan live: N executor slices over ONE
    exported snapshot — point-in-time exactness under a concurrent
    writer, sign-safe/NULL-safe slice routing on a non-PK partition
    column, inferred schema, numeric->double contract, pushdown."""
    from pgshovel_spark.sources.pgdatasource import register_pgshovel
    from pgshovel_spark.sources.pglogical import exported_snapshot

    with pg.connect() as c:
        c.query(
            "create table bt_t(id bigint primary key, grp bigint, v text,"
            " score numeric(10,2), ok boolean)"
        )
        # negative and NULL grp keys: the slice union must still be
        # the whole table
        c.query(
            "insert into bt_t select g, case when g % 17 = 0 then null"
            " when g % 3 = 0 then -g else g end, 'v' || g,"
            " g / 7.0, g % 2 = 0 from generate_series(1, 500) g"
        )
    register_pgshovel(spark)
    # runtime SQL conf: the conftest session predates this test
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    with exported_snapshot(pg) as snap:
        base = (
            spark.read.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("table", "bt_t")
            .option("partition_col", "grp")
            .option("num_partitions", "4")
            .option("snapshot", snap)
        )
        df = base.load()
        # writes AFTER the export: invisible to every slice
        with pg.connect() as c:
            c.query("insert into bt_t values (9001, 1, 'late', 1.0, true)")
            c.query("update bt_t set v = 'mutated' where id <= 50")
            c.query("delete from bt_t where id between 51 and 60")
        assert df.rdd.getNumPartitions() == 4
        rows = df.collect()
        assert len(rows) == 500
        byid = {r.id: r for r in rows}
        assert byid[7].v == "v7" and byid[55].v == "v55"  # pre-mutation image
        assert 9001 not in byid
        assert abs(byid[7].score - 1.0) < 1e-9  # numeric -> double
        assert byid[4].ok is True and byid[3].ok is False
        # schema inference: types from the LIMIT-0 probe OIDs
        assert dict((f.name, f.dataType.simpleString()) for f in df.schema.fields) == {
            "id": "bigint", "grp": "bigint", "v": "string",
            "score": "double", "ok": "boolean",
        }

        # pushdown: the filtered scan returns the same rows a post-scan
        # filter would — and the plan pushes the conjuncts (semantics
        # asserted; the unit test above pins the rendering)
        flt = base.load().filter("id <= 100 and v is not null")
        assert flt.count() == 100

        # projection at the source: columns option narrows the probe
        slim = (
            spark.read.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("table", "bt_t")
            .option("partition_col", "grp")
            .option("num_partitions", "2")
            .option("snapshot", snap)
            .option("columns", "v,id")
            .load()
        )
        assert [f.name for f in slim.schema.fields] == ["v", "id"]
        assert slim.count() == 500


def test_pgbatch_pushdown_safety_rules():
    """Self-review regressions (round 11): tz-aware timestamps push as
    TIMESTAMPTZ (a TIMESTAMP literal silently drops the offset
    server-side), string RANGE comparisons are never pushed (server
    collation vs Spark binary order), bytes render as bytea hex, and
    composite values fail loudly instead of inserting a Python repr."""
    import datetime as dt

    import pytest as _p

    from pyspark.sql.datasource import GreaterThan, GreaterThanOrEqual
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from pgshovel_spark.sources.pgdatasource import (
        PgShovelBatchReader,
        _pg_literal,
    )

    sch = StructType([
        StructField("id", LongType()),
        StructField("v", StringType()),
        StructField("ts", TimestampType()),
    ])
    rdr = PgShovelBatchReader(
        {"sockdir": "/nonexistent", "table": "t", "partition_col": "id"}, sch
    )
    aware = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    fs = [
        GreaterThanOrEqual(("ts",), aware),
        GreaterThan(("v",), "apple"),   # string range: must NOT push
    ]
    left = list(rdr.pushFilters(fs))
    assert left == [fs[1]]
    assert rdr.pushed_sql == ["ts >= TIMESTAMPTZ '2024-01-01 00:00:00+00:00'"]

    assert _pg_literal(b"\x01\xab") == "'\\x01ab'"
    naive = dt.datetime(2024, 1, 1, 12, 0, 0)
    assert _pg_literal(naive) == "TIMESTAMP '2024-01-01 12:00:00'"
    with _p.raises(ValueError, match="composite"):
        _pg_literal({"k": "v"})

    # all-key sink schemas are rejected at init (empty DO UPDATE SET)
    from pgshovel_spark.sources.pgdatasource import PgUpsertStreamWriter

    with _p.raises(ValueError, match="non-key column"):
        PgUpsertStreamWriter(
            {"sockdir": "/nonexistent", "table": "t",
             "keys": "id,seq", "order_cols": "seq"},
            StructType([StructField("id", LongType()),
                        StructField("seq", LongType())]),
        )


def test_pgdatasource_survives_server_crash_restart(spark, tmp_path):
    """Failover drill for the native source: the SERVER crash-stops
    (-m immediate: no shutdown checkpoint, WAL replay on start) while
    a streaming query is live.  The short-lived SQL transport means a
    trigger that lands in the outage window fails the query; the
    production posture is a supervisor restart from the checkpoint —
    either way the slot's confirmed_flush_lsn and Spark's offset log
    reconcile to exactly-once delivery across the crash."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    server = _try_server()
    try:
        pg2 = server.start()
        with pg2.connect() as c:
            c.query("create table crash_t(id int primary key, v text)")
        po.create_publication(pg2, "crash_pub", ["crash_t"])
        po.create_slot_pgoutput(pg2, "crash_slot")
        with pg2.connect() as c:
            c.query(
                "insert into crash_t select g, 'a' || g"
                " from generate_series(1, 20) g"
            )
        register_pgshovel(spark)
        ckpt = str(tmp_path / "ckpt")
        batches: dict = {}

        def got():  # batchId-idempotent collector (replay-safe)
            return [r for _b, rows in sorted(batches.items()) for r in rows]

        def _start():
            return (
                spark.readStream.format("pgshovel")
                .option("sockdir", pg2.sockdir)
                .option("slot", "crash_slot")
                .option("publication", "crash_pub")
                .load()
                .writeStream.foreachBatch(
                    lambda b, i: batches.__setitem__(i, b.collect())
                )
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="500 milliseconds")
                .start()
            )

        q = _start()
        try:
            assert _wait_for(lambda: len(got()) == 20), f"got {len(got())}"
        finally:
            if q.isActive:
                pass  # keep running into the crash

        server.restart()  # simulated crash + WAL replay, same data dir

        with pg2.connect() as c:  # server is back; slot survived
            c.query(
                "insert into crash_t select g, 'b' || g"
                " from generate_series(21, 30) g"
            )

        # the query either rode through the outage (no trigger in the
        # window) or died on a failed peek — then the supervisor move
        # is a restart from the same checkpoint
        def _caught_up():
            nonlocal q
            if not q.isActive:
                q = _start()
            return len(got()) == 30

        assert _wait_for(_caught_up, timeout=120), f"got {len(got())}"
        q.stop()
        assert sorted(r.seq for r in got()) == list(range(30))  # no dup/loss
        assert sum(1 for r in got() if r.after["v"].startswith("b")) == 10
    finally:
        server.stop()


def test_pgdatasource_walsender_transport(spark, pg, tmp_path):
    """Native source on the PUSH transport: one persistent
    START_REPLICATION CopyBoth session held by the reader, slot
    watermark confirmed by Standby Status Update at Spark's own batch
    commit, live tail through the running query."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table nws_t(id int primary key, v text)")
    po.create_publication(pg, "nws_pub", ["nws_t"])
    po.create_slot_pgoutput(pg, "nws_slot")
    with pg.connect() as c:
        c.query("insert into nws_t select g, 'a' || g from generate_series(1, 25) g")
        c.query("update nws_t set v = 'u' where id <= 5")

    register_pgshovel(spark)
    got: list = []
    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("slot", "nws_slot")
        .option("publication", "nws_pub")
        .option("transport", "walsender")
        .load()
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        assert _wait_for(lambda: len(got) == 30), f"got {len(got)}"
        assert sorted(r.seq for r in got) == list(range(30))
        # Standby Status Update moved the durable watermark
        def _flushed():
            with pg.connect() as c:
                f = c.one(
                    "select confirmed_flush_lsn::text from"
                    " pg_replication_slots where slot_name = 'nws_slot'"
                )
            return po.lsn_to_int(f) > 0
        assert _wait_for(_flushed)
        with pg.connect() as c:
            c.query("insert into nws_t values (99, 'late')")
        assert _wait_for(lambda: len(got) == 31), f"got {len(got)}"
    finally:
        q.stop()
    # the runner's walsender session must release the slot on stop
    assert _wait_for(lambda: not _slot_active(pg, "nws_slot"), timeout=30)
    pgl.drop_slot(pg, "nws_slot")


def _slot_active(pg, slot):
    with pg.connect() as c:
        return bool(
            c.one(
                f"select active from pg_replication_slots"
                f" where slot_name = '{slot}'"
            )
        )


def test_pgdatasource_walsender_restart_replays_via_peek(spark, pg, tmp_path):
    """The hybrid transport contract: steady-state reads ride the
    push stream, but a restart's uncommitted-range replay comes from
    the SQL peek — the two transports must agree on (commit_lsn, idx)
    positions or the replay raises loudly.  Stop mid-stream, write
    while down, restart from the same checkpoint: exactly-once."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table nwr_t(id int primary key, v text)")
    po.create_publication(pg, "nwr_pub", ["nwr_t"])
    po.create_slot_pgoutput(pg, "nwr_slot")
    register_pgshovel(spark)
    ckpt = str(tmp_path / "ckpt")
    batches: dict = {}

    def got():  # batchId-idempotent collector (replay-safe)
        return [r for _b, rows in sorted(batches.items()) for r in rows]

    def _start():
        return (
            spark.readStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("slot", "nwr_slot")
            .option("publication", "nwr_pub")
            .option("transport", "walsender")
            .load()
            .writeStream.foreachBatch(
                lambda b, i: batches.__setitem__(i, b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    with pg.connect() as c:
        c.query("insert into nwr_t select g, 'x' || g from generate_series(1, 15) g")
    q = _start()
    try:
        assert _wait_for(lambda: len(got()) == 15), f"got {len(got())}"
    finally:
        q.stop()
        q.awaitTermination(30)
    # the stopped run's session must release the slot before the
    # restart's peek replay can touch it
    assert _wait_for(lambda: not _slot_active(pg, "nwr_slot"), timeout=30)

    with pg.connect() as c:
        c.query("insert into nwr_t select g, 'y' || g from generate_series(16, 22) g")
        c.query("delete from nwr_t where id = 1")

    q = _start()
    try:
        assert _wait_for(lambda: len(got()) == 23), f"got {len(got())}"
        assert sorted(r.seq for r in got()) == list(range(23))
        assert sum(1 for r in got() if r.op == "DELETE") == 1
    finally:
        q.stop()
        q.awaitTermination(30)
    # the stopping run's push session releases the slot asynchronously
    assert _wait_for(lambda: not _slot_active(pg, "nwr_slot"), timeout=30)
    pgl.drop_slot(pg, "nwr_slot")


def test_pgdatasource_schema_drift_mid_stream(spark, pg, tmp_path):
    """Live DDL under a running native-source query: pgoutput re-sends
    the Relation message after ALTER TABLE, so rows decoded after the
    drift carry the new column in their after-map — the envelope's
    map<string,string> payload makes source schema drift a DATA-level
    event, never a Spark schema break."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table drift_n(id int primary key, v text)")
    po.create_publication(pg, "driftn_pub", ["drift_n"])
    po.create_slot_pgoutput(pg, "driftn_slot")
    register_pgshovel(spark)
    got: list = []
    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("slot", "driftn_slot")
        .option("publication", "driftn_pub")
        .load()
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        with pg.connect() as c:
            c.query("insert into drift_n values (1, 'before')")
        assert _wait_for(lambda: len(got) == 1)
        assert set(got[0].after.keys()) == {"id", "v"}

        with pg.connect() as c:  # live DDL while the query runs
            c.query("alter table drift_n add column extra bigint default 7")
            c.query("insert into drift_n values (2, 'after', 42)")
        assert _wait_for(lambda: len(got) == 2)
        post = [r for r in got if r.key["id"] == "2"][0]
        assert set(post.after.keys()) == {"id", "v", "extra"}
        assert post.after["extra"] == "42"
        # pre-drift rows keep their original shape — no retro-widening
        assert set(got[0].after.keys()) == {"id", "v"}
    finally:
        q.stop()
    pgl.drop_slot(pg, "driftn_slot")


# ---------------------------------------------------------------------------
# atomic snapshot->stream handoff (CREATE_REPLICATION_SLOT SNAPSHOT 'export')
# ---------------------------------------------------------------------------


def test_pg_atomic_bootstrap_stream_handoff(spark, pg, tmp_path):
    """Zero-gap/zero-overlap bootstrap->stream: the slot is created
    WITH an exported snapshot of its own consistent point
    (exported_slot_snapshot), the batch bootstrap adopts that
    snapshot, and the stream starts at the consistent point.  The
    check is STRICT: both halves land in the target via plain INSERT
    under a PRIMARY KEY — sink idempotence disabled — so a single
    overlapping row fails loudly (23505) and a missing one fails the
    exactness compare.  Writes commit BEFORE slot creation, DURING
    the bootstrap scan (a live concurrent writer), and AFTER the
    stream starts; end state must be exact."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table hs_src(id bigint primary key, v text)")
        c.query("create table hs_dst(id bigint primary key, v text)")
        c.query(
            "insert into hs_src select g, 'before'"
            " from generate_series(1, 200) g"
        )
    po.create_publication(pg, "hs_pub", ["hs_src"])

    register_pgshovel(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    def strict_insert(rows):
        # NO on-conflict clause: any row arriving twice (bootstrap AND
        # stream) violates the primary key and fails the test
        if not rows:
            return
        with pg.connect() as c:
            vals = ", ".join(f"({int(i)}, '{v}')" for i, v in rows)
            c.query(f"insert into hs_dst values {vals}")

    with po.exported_slot_snapshot(pg, "hs_slot") as (cpoint, snap):
        assert "/" in cpoint and "-" in snap
        # concurrent writer: these commits land DURING the bootstrap
        # scan, AFTER the consistent point — stream half, exclusively
        stop = threading.Event()

        def during_writer():
            g = 201
            while not stop.is_set() and g <= 260:
                with pg.connect() as c:
                    c.query(f"insert into hs_src values ({g}, 'during')")
                g += 1

        t = threading.Thread(target=during_writer)
        t.start()
        try:
            boot = (
                spark.read.format("pgshovel")
                .option("sockdir", pg.sockdir)
                .option("table", "hs_src")
                .option("partition_col", "id")
                .option("num_partitions", "4")
                .option("snapshot", snap)
                .load()
                .collect()
            )
        finally:
            stop.set()
            t.join()
        # the snapshot shows EXACTLY the pre-consistent-point state:
        # no during-row may leak in (that would duplicate via the
        # stream), none of 1..200 may be missing (that would be a gap)
        assert sorted(r.id for r in boot) == list(range(1, 201))
        assert all(r.v == "before" for r in boot)
        strict_insert([(r.id, r.v) for r in boot])

    with pg.connect() as c:
        c.query(
            "insert into hs_src select g, 'after'"
            " from generate_series(261, 300) g"
        )

    def land(batch_df, _batch_id):
        rows = (
            batch_df.filter(F.col("op") == "INSERT")
            .select(F.col("after")["id"].cast("long"), F.col("after")["v"])
            .collect()
        )
        strict_insert([(r[0], r[1]) for r in rows])

    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("slot", "hs_slot")
        .option("publication", "hs_pub")
        .load()
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        def synced():
            with pg.connect() as c:
                return c.one("select count(*) from hs_dst") == c.one(
                    "select count(*) from hs_src"
                )

        assert _wait_for(synced), "handoff did not converge"
        with pg.connect() as c:
            src = c.query("select id, v from hs_src order by id")[0].rows
            dst = c.query("select id, v from hs_dst order by id")[0].rows
        assert src == dst  # every row exactly once, nothing absorbed
    finally:
        q.stop()
    pgl.drop_slot(pg, "hs_slot")


def test_pgupsert_sink_2pc_chaos_drill(spark, pg, tmp_path):
    """Mid-protocol fault injection, 10 repeats: a task killed BETWEEN
    ``PREPARE TRANSACTION`` and reporting its commit message (even
    iterations), and a driver killed BETWEEN task success and the
    first ``COMMIT PREPARED`` (odd iterations).  Each fault fails the
    running query and may orphan prepared transactions; a restart from
    the same checkpoint must converge to exactly-once — end state
    equal to the source, zero prepared transactions left — via the
    abort/sweep/lock-timeout recovery machinery, never by luck."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create table cha_src(id bigint primary key, v text)")
        c.query(
            "create table cha_dst(id bigint primary key, v text,"
            " epoch bigint, seq bigint)"
        )
    po.create_publication(pg, "cha_pub", ["cha_src"])
    po.create_slot_pgoutput(pg, "cha_slot")
    register_pgshovel(spark)

    def stream_df():
        return (
            spark.readStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("slot", "cha_slot")
            .option("publication", "cha_pub")
            .load()
            .filter(F.col("op") != "DELETE")
            .select(
                F.col("after")["id"].cast("long").alias("id"),
                F.col("after")["v"].alias("v"),
                F.col("epoch"),
                F.col("seq"),
            )
            .filter(F.col("id").isNotNull())
            .repartition(2, "id")
        )

    def start_writer(extra):
        w = (
            stream_df()
            .writeStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("table", "cha_dst")
            .option("keys", "id")
            .option("order_cols", "epoch,seq")
            .option("lock_timeout_ms", "2000")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
        )
        for k, v in extra.items():
            w = w.option(k, v)
        return w.start()

    chaos = tmp_path / "chaos_marker"
    n = 0
    for i in range(10):
        point = (
            "task_after_prepare" if i % 2 == 0 else "driver_before_commit"
        )
        with pg.connect() as c:
            c.query(
                f"insert into cha_src select g, 'w{i}_' || g"
                f" from generate_series({n + 1}, {n + 30}) g"
            )
            if n:  # overwrite an old key too: the upsert path, not
                # just inserts, rides through every recovery
                c.query(f"update cha_src set v = 'u{i}' where id = {n}")
        n += 30
        chaos.write_text("armed")
        q = start_writer({"chaos_point": point, "chaos_file": str(chaos)})
        try:
            assert _wait_for(lambda: q.exception() is not None, 60), (
                f"iter {i} ({point}): chaos never fired"
            )
        finally:
            try:
                q.stop()
            except Exception:
                pass
        assert not chaos.exists(), f"iter {i}: marker not consumed"
        q2 = start_writer({})  # recovery: same checkpoint, no chaos
        try:
            def synced():
                with pg.connect() as c:
                    return c.one("select count(*) from cha_dst") == n and (
                        c.one("select count(*) from pg_prepared_xacts") == 0
                    )

            assert _wait_for(synced), f"iter {i} ({point}) did not converge"
            with pg.connect() as c:
                src = c.query("select id, v from cha_src order by id")[0].rows
                dst = c.query("select id, v from cha_dst order by id")[0].rows
            assert src == dst, f"iter {i} ({point}) diverged"
        finally:
            q2.stop()
    pgl.drop_slot(pg, "cha_slot")


# ---------------------------------------------------------------------------
# PG15 publication row filters + column lists (server-side filtering)
# ---------------------------------------------------------------------------


def test_pgoutput_publication_row_filter_live(spark, pg):
    """PG15 row-filtered publication: the WALSENDER evaluates the
    predicate, so the filtered slot ships only matching rows — parity
    against a Spark-side filter of the UNFILTERED stream on the same
    writes, plus the documented straddle transformation (an UPDATE
    moving a row across the filter boundary republishes as DELETE /
    INSERT so the stream stays consistent with 'the table,
    filtered')."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table rf_t(id bigint primary key, val bigint)")
    po.create_publication(
        pg, "rf_pub_all", ["rf_t"]
    )
    po.create_publication(
        pg, "rf_pub_even", ["rf_t"], where={"rf_t": "id % 2 = 0"}
    )
    po.create_slot_pgoutput(pg, "rf_slot_all")
    po.create_slot_pgoutput(pg, "rf_slot_even")

    with pg.connect() as c:
        c.query(
            "insert into rf_t select g, g * 10 from generate_series(1, 20) g"
        )
        c.query("update rf_t set val = val + 1 where id in (4, 7)")
        c.query("delete from rf_t where id in (6, 7)")

    def parsed(slot, pub):
        raw = po.raw_slot_changes_pgoutput(pg, slot, pub)
        return [
            (c["op"], c["table"], c["key"]["id"], c["after"])
            for c in po.parse_pgoutput(raw)
        ]

    allc = parsed("rf_slot_all", "rf_pub_all")
    evenc = parsed("rf_slot_even", "rf_pub_even")
    # parity: the server-filtered stream IS the consumer-side filter
    # of the unfiltered one (no straddling updates in this wave)
    assert evenc == [c for c in allc if int(c[2]) % 2 == 0]
    assert len(evenc) == 10 + 1 + 1  # inserts 2..20 even, update 4, delete 6
    assert all(int(c[2]) % 2 == 0 for c in evenc)

    # straddle wave: a PK update moving the row across the filter
    with pg.connect() as c:
        c.query("update rf_t set id = 25 where id = 8")  # even -> odd
        c.query("update rf_t set id = 22 where id = 3")  # odd -> even
    tail_all = parsed("rf_slot_all", "rf_pub_all")[len(allc):]
    tail_even = parsed("rf_slot_even", "rf_pub_even")[len(evenc):]
    # unfiltered: both are plain UPDATEs (PK change = before+after)
    assert [c[0] for c in tail_all] == ["UPDATE", "UPDATE"]
    # filtered: leaving the set -> DELETE of the old key; entering
    # the set -> INSERT of the new row (the PG15 transformation)
    assert [(c[0], c[2]) for c in tail_even] == [
        ("DELETE", "8"), ("INSERT", "22")
    ]
    assert tail_even[1][3]["val"] == "30"  # the entering row's image
    pgl.drop_slot(pg, "rf_slot_all")
    pgl.drop_slot(pg, "rf_slot_even")


def test_pgoutput_publication_column_list_live(spark, pg):
    """PG15 column-listed publication: the Relation message declares
    ONLY the listed columns and the decoder emits exactly that subset
    — server-side projection for a consumer that must never see (or
    ship) the excluded column.  Parity: the projected stream equals
    the full stream minus the excluded column."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query(
            "create table cl_t(id bigint primary key, v text, secret text)"
        )
    po.create_publication(pg, "cl_pub_full", ["cl_t"])
    po.create_publication(
        pg, "cl_pub_slim", ["cl_t"], columns={"cl_t": ["id", "v"]}
    )
    po.create_slot_pgoutput(pg, "cl_slot_full")
    po.create_slot_pgoutput(pg, "cl_slot_slim")

    with pg.connect() as c:
        c.query(
            "insert into cl_t select g, 'v' || g, 'classified_' || g"
            " from generate_series(1, 5) g"
        )
        c.query("update cl_t set v = 'u2', secret = 'still_secret' where id = 2")
        c.query("delete from cl_t where id = 3")

    def parsed(slot, pub):
        raw = po.raw_slot_changes_pgoutput(pg, slot, pub)
        return po.parse_pgoutput(raw)

    full = parsed("cl_slot_full", "cl_pub_full")
    slim = parsed("cl_slot_slim", "cl_pub_slim")
    assert len(full) == len(slim) == 7
    # the excluded column never crosses the wire on the slim slot
    for ch in slim:
        for img in (ch["before"], ch["after"]):
            if img is not None:
                assert "secret" not in img
    # parity: slim == full minus the excluded column
    def drop_secret(img):
        return (
            None if img is None
            else {k: v for k, v in img.items() if k != "secret"}
        )

    assert [
        (c["op"], c["key"], drop_secret(c["before"]), drop_secret(c["after"]))
        for c in full
    ] == [(c["op"], c["key"], c["before"], c["after"]) for c in slim]
    pgl.drop_slot(pg, "cl_slot_full")
    pgl.drop_slot(pg, "cl_slot_slim")


def test_pgdatasource_filtered_publication_stream(spark, pg, tmp_path):
    """Row filter AND column list together, end to end through the
    native streaming source: the server prunes rows and projects
    columns inside the walsender, Spark receives only what the
    publication publishes."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query(
            "create table fp_t(id bigint primary key, v text, secret text)"
        )
    po.create_publication(
        pg,
        "fp_pub",
        ["fp_t"],
        where={"fp_t": "id % 3 = 0"},
        columns={"fp_t": ["id", "v"]},
    )
    po.create_slot_pgoutput(pg, "fp_slot")
    with pg.connect() as c:
        c.query(
            "insert into fp_t select g, 'v' || g, 's' || g"
            " from generate_series(1, 30) g"
        )
    register_pgshovel(spark)
    got: list = []

    def land(batch_df, _bid):
        got.extend(batch_df.collect())

    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("slot", "fp_slot")
        .option("publication", "fp_pub")
        .load()
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        assert _wait_for(lambda: len(got) >= 10), f"got {len(got)}"
    finally:
        q.stop()
    assert len(got) == 10
    assert sorted(int(r.after["id"]) for r in got) == list(range(3, 31, 3))
    assert all(set(r.after.keys()) == {"id", "v"} for r in got)
    pgl.drop_slot(pg, "fp_slot")


# ---------------------------------------------------------------------------
# partition-parallel sharded stream reader (full DataSourceStreamReader)
# ---------------------------------------------------------------------------


def test_pgdatasource_sharded_two_slots_restart_exactly_once(spark, pg, tmp_path):
    """Partition-parallel capture: two shards (one slot per DATABASE —
    the per-database sharding the scale docstrings promise), peeked
    and decoded on EXECUTORS, exactly-once across a checkpoint
    restart — per-shard dense seq unbroken, writes landed while the
    consumer was down delivered exactly once, shard isolation exact."""
    import dataclasses
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_a")
        c.query("create database shr_b")
    prm = {n: dataclasses.replace(pg, database=f"shr_{n}") for n in "ab"}
    for n, pp in prm.items():
        with pp.connect() as c:
            c.query(f"create table ev_{n}(id bigint primary key, v text)")
        po.create_publication(pp, f"shr_pub_{n}", [f"ev_{n}"])
        po.create_slot_pgoutput(pp, f"shr_slot_{n}")
        with pp.connect() as c:
            c.query(
                f"insert into ev_{n} select g, '{n}' || g"
                " from generate_series(1, 30) g"
            )
    register_pgshovel(spark)
    ckpt = str(tmp_path / "ck")
    shards = _json.dumps(
        [
            {"slot": "shr_slot_a", "publication": "shr_pub_a", "database": "shr_a"},
            {"slot": "shr_slot_b", "publication": "shr_pub_b", "database": "shr_b"},
        ]
    )
    # foreachBatch is AT-least-once per batch: a stop() landing before
    # the commit-log write legitimately replays the batch on restart,
    # so the collector is IDEMPOTENT on batchId (the documented sink
    # contract) — replays overwrite with identical content instead of
    # double-counting
    batches: dict = {}

    def got():
        return [r for _b, rows in sorted(batches.items()) for r in rows]

    def _start():
        return (
            spark.readStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("shards", shards)
            .load()
            .writeStream.foreachBatch(
                lambda b, i: batches.__setitem__(i, b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="400 milliseconds")
            .start()
        )

    q = _start()
    try:
        assert _wait_for(lambda: len(got()) == 60), f"got {len(got())}"
    finally:
        q.stop()
        q.awaitTermination(30)

    # writes while the consumer is DOWN: asymmetric waves
    with prm["a"].connect() as c:
        c.query(
            "insert into ev_a select g, 'y' || g"
            " from generate_series(31, 40) g"
        )
        c.query("update ev_a set v = 'u1' where id = 1")
    with prm["b"].connect() as c:
        c.query("delete from ev_b where id = 2")

    q = _start()
    try:
        assert _wait_for(lambda: len(got()) == 72), f"got {len(got())}"
        by_pub: dict = {}
        for r in got():
            by_pub.setdefault(r.publisher, []).append(r)
        assert sorted(by_pub) == ["shr_slot_a", "shr_slot_b"]
        a, b = by_pub["shr_slot_a"], by_pub["shr_slot_b"]
        # exactly once per shard: dense seq across the restart
        assert sorted(r.seq for r in a) == list(range(41))
        assert sorted(r.seq for r in b) == list(range(31))
        assert sum(1 for r in a if r.op == "UPDATE") == 1
        assert sum(1 for r in b if r.op == "DELETE") == 1
        # shard isolation: each publisher carries only its own table
        assert {r.table for r in a} == {"public.ev_a"}
        assert {r.table for r in b} == {"public.ev_b"}
    finally:
        q.stop()
        q.awaitTermination(30)
    for n, pp in prm.items():
        pgl.drop_slot(pp, f"shr_slot_{n}")


def test_backlog_stats_counts_match_parser(spark, pg):
    """The sharded reader's end-offset probe (backlog_stats_pgoutput)
    must count EXACTLY what parse_pgoutput emits — the probe and the
    executor slice otherwise desync and the reader's loud-failure
    guard trips.  Pinned on the tricky shapes: multi-statement
    transactions, TRUNCATE (one change per truncated relation),
    empty-for-the-publication transactions (B/C frames only), and the
    after_lsn filter at a mid-stream commit boundary."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table bs_t1(id int primary key, v text)")
        c.query("create table bs_t2(id int primary key, v text)")
        c.query("create table bs_unpub(id int primary key)")
    po.create_publication(pg, "bs_pub", ["bs_t1", "bs_t2"])
    po.create_slot_pgoutput(pg, "bs_slot")
    with pg.connect() as c:
        # one multi-table txn: 5 + 3 changes
        c.query(
            "begin;"
            " insert into bs_t1 select g, 'a' || g from generate_series(1,5) g;"
            " insert into bs_t2 select g, 'b' || g from generate_series(1,3) g;"
            " commit"
        )
        # a txn invisible to the publication: B/C frames, zero changes
        c.query("insert into bs_unpub values (1), (2)")
        # update + delete + TRUNCATE of both tables in one txn
        c.query(
            "begin;"
            " update bs_t1 set v = 'u' where id = 1;"
            " delete from bs_t2 where id = 2;"
            " truncate bs_t1, bs_t2;"
            " commit"
        )
    raw = po.raw_slot_changes_pgoutput(pg, "bs_slot", "bs_pub")
    parsed = po.parse_pgoutput(raw)
    n, last = po.backlog_stats_pgoutput(pg, "bs_slot", "bs_pub")
    # 8 inserts + 1 update + 1 delete + 2 truncate-relations = 12
    assert len(parsed) == n == 12
    assert last == parsed[-1]["commit_lsn"]

    # after_lsn at the FIRST commit boundary: only later commits count
    first_commit = parsed[0]["commit_lsn"]
    n_tail, last_tail = po.backlog_stats_pgoutput(
        pg, "bs_slot", "bs_pub", after_lsn=first_commit
    )
    assert n_tail == sum(
        1 for ch in parsed if ch["commit_lsn"] != first_commit
    ) == 4
    assert last_tail == last
    # past the last commit: empty backlog
    n_none, last_none = po.backlog_stats_pgoutput(
        pg, "bs_slot", "bs_pub", after_lsn=last
    )
    assert n_none == 0 and last_none is None
    pgl.drop_slot(pg, "bs_slot")


def test_pgdatasource_sharded_empty_commit_stability(spark, pg, tmp_path):
    """Publication-invisible transactions (B/C frames only) must
    ADVANCE the shard watermark once and then go quiet: the idle
    latestOffset must reproduce the committed end offset exactly, or
    every trigger plans a phantom batch forever (the idx-vs-base_seq
    regression this test pins).  Also covers the bootstrap case where
    the first committed end carries seq=0."""
    import dataclasses
    import json as _json
    import time

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_e")
    pe = dataclasses.replace(pg, database="shr_e")
    with pe.connect() as c:
        c.query("create table ev_pub(id bigint primary key, v text)")
        c.query("create table ev_hidden(id bigint primary key)")
    po.create_publication(pe, "shr_pub_e", ["ev_pub"])
    po.create_slot_pgoutput(pe, "shr_slot_e")
    register_pgshovel(spark)
    got: list = []
    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option(
            "shards",
            _json.dumps(
                [{"slot": "shr_slot_e", "publication": "shr_pub_e",
                  "database": "shr_e"}]
            ),
        )
        .load()
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # ONLY publication-invisible commits, from a cold slot (the
        # first committed end then has seq=0 — the regression's
        # sharpest corner)
        with pe.connect() as c:
            c.query("insert into ev_hidden select g from generate_series(1, 50) g")
        _wait_for(lambda: (q.lastProgress or {}).get("batchId", -1) >= 0, 20)
        time.sleep(1.0)
        b0 = (q.lastProgress or {}).get("batchId", -1)
        time.sleep(2.0)
        b1 = (q.lastProgress or {}).get("batchId", -1)
        # idle stream: the batch id must NOT churn (10/s if looping);
        # allow 1 for a straggling trigger
        assert b1 - b0 <= 1, f"phantom batches: {b0} -> {b1}"
        assert got == []
        # the watermark DID advance past the invisible commits
        with pe.connect() as c:
            flushed = c.one(
                "select confirmed_flush_lsn::text from pg_replication_slots"
                " where slot_name = 'shr_slot_e'"
            )
        assert flushed is not None
        # and real rows still flow afterwards
        with pe.connect() as c:
            c.query("insert into ev_pub values (1, 'x')")
        assert _wait_for(lambda: len(got) == 1)
        assert got[0].seq == 0  # dense seq untouched by invisible txns
    finally:
        q.stop()
    pgl.drop_slot(pe, "shr_slot_e")


def test_sharded_reader_rejects_all_tables_publication(pg):
    """A FOR ALL TABLES publication would capture the reader's own
    pgshovel_shard_meta watermark upserts — a self-feeding loop of
    one-row batches.  The driver-side guard rejects it loudly at the
    first offset probe."""
    import dataclasses

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import PgShovelShardedStreamReader

    with pg.connect() as c:
        c.query("create database shr_all")
    pa_ = dataclasses.replace(pg, database="shr_all")
    with pa_.connect() as c:
        c.query("create table ev_all(id bigint primary key)")
        c.query("create publication shr_pub_all_tables for all tables")
    po.create_slot_pgoutput(pa_, "shr_slot_all")
    rdr = PgShovelShardedStreamReader(
        {
            "sockdir": pg.sockdir,
            "shards": '[{"slot": "shr_slot_all", "publication":'
            ' "shr_pub_all_tables", "database": "shr_all"}]',
        }
    )
    with pytest.raises(ValueError, match="pgshovel_shard_meta"):
        rdr.latestOffset()
    pgl.drop_slot(pa_, "shr_slot_all")


def test_sharded_commit_crash_window_is_absorbed(pg, monkeypatch):
    """The sharded commit writes the watermark meta BEFORE advancing
    the slot; a crash between the two leaves confirmed_flush behind
    the meta watermark.  The class docstring claims the commit-lsn
    filter absorbs that window — prove it: commit with the advance
    suppressed (simulated crash), restart as a FRESH reader instance,
    and the next offset/read cycle must deliver exactly the new rows
    with seq continuing densely, no replay of the settled batch."""
    import dataclasses

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources import pglogical as pgl_mod
    from pgshovel_spark.sources.pgdatasource import PgShovelShardedStreamReader

    with pg.connect() as c:
        c.query("create database shr_cw")
    pc = dataclasses.replace(pg, database="shr_cw")
    with pc.connect() as c:
        c.query("create table ev_cw(id bigint primary key, v text)")
    po.create_publication(pc, "shr_pub_cw", ["ev_cw"])
    po.create_slot_pgoutput(pc, "shr_slot_cw")
    opts = {
        "sockdir": pg.sockdir,
        "shards": '[{"slot": "shr_slot_cw", "publication": "shr_pub_cw",'
        ' "database": "shr_cw"}]',
    }

    def n_rows(it):
        return sum(b.num_rows for b in it)

    rdr = PgShovelShardedStreamReader(opts)
    start = rdr.initialOffset()
    with pc.connect() as c:
        c.query("insert into ev_cw select g, 'a' || g from generate_series(1, 10) g")
    end1 = rdr.latestOffset()
    (p1,) = rdr.partitions(start, end1)
    assert n_rows(rdr.read(p1)) == 10

    # simulated crash: meta lands, the slot advance never runs
    monkeypatch.setattr(pgl_mod, "advance", lambda *a, **k: None)
    rdr.commit(end1)
    monkeypatch.undo()
    with pc.connect() as c:
        flushed = c.one(
            "select confirmed_flush_lsn::text from pg_replication_slots"
            " where slot_name = 'shr_slot_cw'"
        )
        meta = c.one("select base_lsn::text from pgshovel_shard_meta")
    from pgshovel_spark.sources.pgoutput import lsn_to_int
    assert lsn_to_int(meta) > lsn_to_int(flushed)  # the window is real

    with pc.connect() as c:
        c.query("insert into ev_cw select g, 'b' || g from generate_series(11, 15) g")
    rdr2 = PgShovelShardedStreamReader(opts)  # restarted driver
    end2 = rdr2.latestOffset()
    assert end2["shr_slot_cw"]["seq"] == 15  # dense, no double count
    (p2,) = rdr2.partitions(end1, end2)
    assert n_rows(rdr2.read(p2)) == 5  # only the new rows, no replay
    rdr2.commit(end2)  # full commit heals the window
    with pc.connect() as c:
        healed = c.one(
            "select confirmed_flush_lsn::text from pg_replication_slots"
            " where slot_name = 'shr_slot_cw'"
        )
    assert lsn_to_int(healed) == end2["shr_slot_cw"]["lsn"]
    pgl.drop_slot(pc, "shr_slot_cw")


def test_sharded_atomic_handoff_compose(spark, pg, tmp_path):
    """The two round-12 features COMPOSE into the production day-one
    at scale: each shard's slot is created with its own exported
    snapshot (atomic handoff), each database bootstraps on its
    snapshot, then ONE sharded stream drains both slots from their
    consistent points.  Strict plain-INSERT landing under a PK on
    both halves — end state exact per shard, nothing absorbed."""
    import dataclasses
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_ha")
        c.query("create database shr_hb")
    prm = {n: dataclasses.replace(pg, database=f"shr_h{n}") for n in "ab"}
    for n, pp in prm.items():
        with pp.connect() as c:
            c.query(f"create table hsv_{n}(id bigint primary key, v text)")
            c.query(f"create table hsd_{n}(id bigint primary key, v text)")
            c.query(
                f"insert into hsv_{n} select g, 'boot'"
                " from generate_series(1, 100) g"
            )
        po.create_publication(pp, f"hs_pub_{n}", [f"hsv_{n}"])

    register_pgshovel(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    def strict_insert(pp, table, rows):
        if rows:
            with pp.connect() as c:
                vals = ", ".join(f"({int(i)}, '{v}')" for i, v in rows)
                c.query(f"insert into {table} values {vals}")

    # per-shard atomic handoff: bootstrap each database on its slot's
    # own exported snapshot while a writer commits post-point rows
    for n, pp in prm.items():
        with po.exported_slot_snapshot(pp, f"hs_slot_{n}") as (_cp, snap):
            with pp.connect() as c:  # commits AFTER the consistent point
                c.query(
                    f"insert into hsv_{n} select g, 'live'"
                    " from generate_series(101, 130) g"
                )
            boot = (
                spark.read.format("pgshovel")
                .option("sockdir", pp.sockdir)
                .option("database", f"shr_h{n}")
                .option("table", f"hsv_{n}")
                .option("partition_col", "id")
                .option("num_partitions", "2")
                .option("snapshot", snap)
                .load()
                .collect()
            )
            assert sorted(r.id for r in boot) == list(range(1, 101))
            strict_insert(pp, f"hsd_{n}", [(r.id, r.v) for r in boot])

    def land(batch_df, _bid):
        for r in batch_df.collect():
            n = r.publisher[-1]  # hs_slot_a -> a
            strict_insert(
                prm[n], f"hsd_{n}", [(int(r.after["id"]), r.after["v"])]
            )

    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option(
            "shards",
            _json.dumps(
                [
                    {"slot": f"hs_slot_{n}", "publication": f"hs_pub_{n}",
                     "database": f"shr_h{n}"}
                    for n in "ab"
                ]
            ),
        )
        .load()
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        def synced():
            for n, pp in prm.items():
                with pp.connect() as c:
                    if c.one(f"select count(*) from hsd_{n}") != 130:
                        return False
            return True

        assert _wait_for(synced), "sharded handoff did not converge"
        for n, pp in prm.items():
            with pp.connect() as c:
                src = c.query(f"select id, v from hsv_{n} order by id")[0].rows
                dst = c.query(f"select id, v from hsd_{n} order by id")[0].rows
            assert src == dst, f"shard {n} diverged"
    finally:
        q.stop()
    for n, pp in prm.items():
        pgl.drop_slot(pp, f"hs_slot_{n}")


def test_sharded_probe_short_circuit_and_chunked_drain(pg, monkeypatch):
    """Two probe-economy behaviors, direct-driven: (a) an idle shard
    must NOT pay the decode probe — when the server's WAL flush
    position has not moved, latestOffset returns the cached end from
    one catalog scalar; (b) with max_changes bounding the peek window,
    a large backlog drains chunk by chunk across commit cycles (the
    commit invalidates the cache — confirmed_flush moved, so the same
    WAL position now exposes the NEXT chunk)."""
    import dataclasses

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import PgShovelShardedStreamReader

    with pg.connect() as c:
        c.query("create database shr_pc")
    pp = dataclasses.replace(pg, database="shr_pc")
    with pp.connect() as c:
        c.query("create table ev_pc(id bigint primary key, v text)")
    po.create_publication(pp, "shr_pub_pc", ["ev_pc"])
    po.create_slot_pgoutput(pp, "shr_slot_pc")

    calls = {"n": 0}
    real = po.backlog_plan_pgoutput

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(po, "backlog_plan_pgoutput", counting)

    rdr = PgShovelShardedStreamReader(
        {
            "sockdir": pg.sockdir,
            "max_changes": "50",
            "shards": '[{"slot": "shr_slot_pc", "publication":'
            ' "shr_pub_pc", "database": "shr_pc"}]',
        }
    )
    start = rdr.initialOffset()
    # 100 single-row transactions: ~300 raw messages, max_changes=50
    # forces multiple probe/peek chunks
    with pp.connect() as c:
        for g in range(1, 101):
            c.query(f"insert into ev_pc values ({g}, 'v{g}')")

    total, cycles = 0, 0
    cur = start
    while cycles < 20:
        end = rdr.latestOffset()
        if end == cur:
            break
        parts = rdr.partitions(cur, end)
        for p in parts:
            total += sum(b.num_rows for b in rdr.read(p))
        rdr.commit(end)
        cur = end
        cycles += 1
    assert total == 100, (total, cycles)
    assert cycles >= 2  # the bound really chunked the backlog
    assert cur["shr_slot_pc"]["seq"] == 100

    # idle short-circuit: WAL still (commit's own meta write moved it
    # once — settle with one probe), then repeated latestOffset calls
    # must not touch the decode probe again
    rdr.latestOffset()
    n0 = calls["n"]
    for _ in range(5):
        assert rdr.latestOffset() == cur
    assert calls["n"] == n0, "idle probes were not short-circuited"
    pgl.drop_slot(pp, "shr_slot_pc")


def test_pgdatasource_sharded_same_database_disjoint_pubs(spark, pg, tmp_path):
    """The OTHER documented sharding layout: two slots on ONE database
    with disjoint publications (per-table sharding).  Transactions
    touching BOTH tables must split cleanly — each shard delivers its
    own table's changes exactly once, sharing the database's
    pgshovel_shard_meta table (one row per slot) without interference."""
    import dataclasses
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_sd")
    pp = dataclasses.replace(pg, database="shr_sd")
    with pp.connect() as c:
        c.query("create table sd_t1(id bigint primary key, v text)")
        c.query("create table sd_t2(id bigint primary key, v text)")
    po.create_publication(pp, "sd_pub1", ["sd_t1"])
    po.create_publication(pp, "sd_pub2", ["sd_t2"])
    po.create_slot_pgoutput(pp, "sd_slot1")
    po.create_slot_pgoutput(pp, "sd_slot2")
    with pp.connect() as c:
        # every transaction touches BOTH tables: the split is the test
        for i in range(1, 21):
            c.query(
                "begin;"
                f" insert into sd_t1 values ({i}, 'a{i}');"
                f" insert into sd_t2 values ({i}, 'b{i}');"
                f" insert into sd_t2 values ({i + 100}, 'c{i}');"
                " commit"
            )
    register_pgshovel(spark)
    got: list = []
    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option(
            "shards",
            _json.dumps(
                [
                    {"slot": "sd_slot1", "publication": "sd_pub1",
                     "database": "shr_sd"},
                    {"slot": "sd_slot2", "publication": "sd_pub2",
                     "database": "shr_sd"},
                ]
            ),
        )
        .load()
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        assert _wait_for(lambda: len(got) == 60), f"got {len(got)}"
        # Spark calls source.commit(batch N) only when batch N+1 is
        # CONSTRUCTED — an idle stream leaves the watermark at the
        # previous batch (safe: restart replays, the position filter
        # dedupes).  Under load everything can land in ONE batch and
        # the stream then idles forever, so PUMP nudge rows until both
        # shards' watermark rows appear (each nudge forces a new batch
        # whose construction commits the previous one).
        import time as _time

        n_ticks, deadline = 0, _time.time() + 90
        while _time.time() < deadline:
            with pp.connect() as c:
                if c.one(
                    "select count(*) from pg_tables"
                    " where tablename = 'pgshovel_shard_meta'"
                ) and c.one("select count(*) from pgshovel_shard_meta") == 2:
                    break
                n_ticks += 1
                c.query(
                    f"insert into sd_t1 values ({1000 + n_ticks}, 'tick')"
                )
            _time.sleep(0.5)
        else:
            raise AssertionError("shard watermarks never committed")
        assert _wait_for(lambda: len(got) == 60 + n_ticks), (
            f"got {len(got)}, ticks {n_ticks}"
        )
    finally:
        q.stop()
    s1 = [r for r in got if r.publisher == "sd_slot1"]
    s2 = [r for r in got if r.publisher == "sd_slot2"]
    assert len(s1) == 20 + n_ticks and len(s2) == 40
    assert {r.table for r in s1} == {"public.sd_t1"}
    assert {r.table for r in s2} == {"public.sd_t2"}
    assert sorted(r.seq for r in s1) == list(range(20 + n_ticks))
    assert sorted(r.seq for r in s2) == list(range(40))
    with pp.connect() as c:
        meta = c.query(
            "select slot, base_seq from pgshovel_shard_meta order by slot"
        )[0].rows
    assert [m[0] for m in meta] == ["sd_slot1", "sd_slot2"]
    pgl.drop_slot(pp, "sd_slot1")
    pgl.drop_slot(pp, "sd_slot2")


# ---------------------------------------------------------------------------
# TCP transport + SCRAM-SHA-256 authentication (the production shape)
# ---------------------------------------------------------------------------


def test_wire_tcp_scram_auth_and_capture(spark):
    """The wire client over TCP with SCRAM-SHA-256 (RFC 5802/7677 —
    what `password_encryption = scram-sha-256` servers demand): auth
    handshake incl. server-signature verification, wrong password
    rejected with 28P01, type round-trip, and the WHOLE capture stack
    (slot create, pgoutput decode, walsender START_REPLICATION) riding
    the TCP transport."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgwire import (
        PgUnavailable,
        ScratchPostgres,
    )

    try:
        server = ScratchPostgres()
        server.start(tcp=True, password="s3cret pa'ss")
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        tcp = server.tcp_params()
        with tcp.connect() as c:
            assert c.one("select 41 + 1") == 42
            assert c.one("select '\\xbeef'::bytea") == b"\xbe\xef"
            # the server proved knowledge of the password (SCRAM
            # server-signature check inside the handshake) — and the
            # hba line really forces SCRAM on TCP:
            assert c.one(
                "select count(*) from pg_hba_file_rules"
                " where auth_method = 'scram-sha-256'"
            ) >= 2

        import dataclasses

        with pytest.raises(PgError) as ei:
            dataclasses.replace(tcp, password="wrong").connect()
        assert ei.value.sqlstate == "28P01"

        # capture stack over TCP: slot functions + publication
        with tcp.connect() as c:
            c.query("create table tcp_t(id bigint primary key, v text)")
        po.create_publication(tcp, "tcp_pub", ["tcp_t"])
        po.create_slot_pgoutput(tcp, "tcp_slot")
        with tcp.connect() as c:
            c.query(
                "insert into tcp_t select g, 'v' || g"
                " from generate_series(1, 25) g"
            )
        raw = po.raw_slot_changes_pgoutput(tcp, "tcp_slot", "tcp_pub")
        changes = po.parse_pgoutput(raw)
        assert len(changes) == 25
        assert changes[0]["after"]["v"] == "v1"

        # the REAL walsender session over TCP (replication=database
        # startup must also pass SCRAM — and needs its own pg_hba
        # 'replication' line)
        rc = po.PgReplicationConnection(tcp)
        try:
            stream = rc.start_replication("tcp_slot", "tcp_pub")
            with tcp.connect() as c:
                c.query("insert into tcp_t values (999, 'pushed')")
            # the un-advanced slot replays the peeked 25 first (peek
            # is non-destructive), then pushes the live row
            ids = []
            for _ in range(10):
                ids += [ch["after"]["id"] for ch in stream.read(max_seconds=10.0)]
                if "999" in ids:
                    break
            assert ids == [str(g) for g in range(1, 26)] + ["999"]
            stream.stop()
        finally:
            rc.close()
    finally:
        server.stop()


def test_pgdatasource_native_over_tcp(spark, tmp_path):
    """The native Spark surfaces over the TCP+SCRAM transport: the
    batch source (executor connections authenticate), the streaming
    source, and the 2PC sink — one mini relay with host/port/password
    options instead of a socket directory, end state exact."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel
    from pgshovel_spark.sources.pgwire import (
        PgUnavailable,
        ScratchPostgres,
    )

    try:
        server = ScratchPostgres()
        server.start(tcp=True, password="relaypw")
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        tcp = server.tcp_params()
        with tcp.connect() as c:
            c.query("create table ntc_src(id bigint primary key, v text)")
            c.query(
                "create table ntc_dst(id bigint primary key, v text,"
                " epoch bigint, seq bigint)"
            )
        po.create_publication(tcp, "ntc_pub", ["ntc_src"])
        po.create_slot_pgoutput(tcp, "ntc_slot")
        with tcp.connect() as c:
            # AFTER the slot: these changes are the stream's payload
            c.query(
                "insert into ntc_src select g, 'v' || g"
                " from generate_series(1, 50) g"
            )
        register_pgshovel(spark)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

        # batch source over TCP: executors open their own SCRAM-
        # authenticated connections
        cnt = (
            spark.read.format("pgshovel")
            .option("host", tcp.host)
            .option("port", str(tcp.port))
            .option("password", tcp.password)
            .option("table", "ntc_src")
            .option("partition_col", "id")
            .option("num_partitions", "3")
            .load()
            .count()
        )
        assert cnt == 50

        flat = (
            spark.readStream.format("pgshovel")
            .option("host", tcp.host)
            .option("port", str(tcp.port))
            .option("password", tcp.password)
            .option("slot", "ntc_slot")
            .option("publication", "ntc_pub")
            .load()
            .filter(F.col("op") != "DELETE")
            .select(
                F.col("after")["id"].cast("long").alias("id"),
                F.col("after")["v"].alias("v"),
                F.col("epoch"),
                F.col("seq"),
            )
            .filter(F.col("id").isNotNull())
            .repartition(2, "id")
        )
        q = (
            flat.writeStream.format("pgshovel")
            .option("host", tcp.host)
            .option("port", str(tcp.port))
            .option("password", tcp.password)
            .option("table", "ntc_dst")
            .option("keys", "id")
            .option("order_cols", "epoch,seq")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="400 milliseconds")
            .start()
        )
        try:
            def synced():
                with tcp.connect() as c:
                    return c.one("select count(*) from ntc_dst") == 50

            assert _wait_for(synced), "TCP relay did not converge"
            with tcp.connect() as c:
                src = c.query("select id, v from ntc_src order by id")[0].rows
                dst = c.query("select id, v from ntc_dst order by id")[0].rows
            assert src == dst
        finally:
            q.stop()
    finally:
        server.stop()


def test_scram_unit_server_signature_verification(monkeypatch):
    """SCRAM security properties the live server can never exhibit,
    pinned against a scripted stream: (a) a correct server signature
    completes the handshake; (b) an IMPOSTOR server (bogus v=) is
    rejected — the client refuses to trust a server that cannot prove
    knowledge of the password; (c) a server nonce that does not extend
    the client nonce (replay splice) is rejected."""
    import base64
    import hashlib
    import hmac as hmac_mod
    import struct as st

    from pgshovel_spark.sources.pgwire import PgParams

    monkeypatch.setattr("secrets.token_bytes", lambda n: bytes(range(n)))
    nonce = base64.b64encode(bytes(range(18))).decode()
    password, user = "pw", "postgres"
    salt = b"salty_salt__"
    server_nonce = nonce + "EXT"
    server_first = (
        f"r={server_nonce},s={base64.b64encode(salt).decode()},i=4096"
    )
    salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, 4096)
    first_bare = f"n={user},r={nonce}"
    auth_msg = ",".join(
        [first_bare, server_first, f"c=biws,r={server_nonce}"]
    ).encode()
    server_key = hmac_mod.new(salted, b"Server Key", hashlib.sha256).digest()
    good_sig = base64.b64encode(
        hmac_mod.new(server_key, auth_msg, hashlib.sha256).digest()
    ).decode()
    sasl_req = st.pack("!i", 10) + b"SCRAM-SHA-256\x00\x00"

    def conn_with(final_v: str, srv_first: str = server_first):
        stream = _wire_msg(
            b"R", st.pack("!i", 11) + srv_first.encode()
        ) + _wire_msg(b"R", st.pack("!i", 12) + f"v={final_v}".encode())
        conn = _scripted_conn(stream)
        conn.params = PgParams(host="x", password=password, user=user)
        return conn

    c = conn_with(good_sig)
    c._authenticate(10, sasl_req)  # completes without raising
    # the client proved itself too: the proof rides the final message
    assert b"c=biws,r=" + server_nonce.encode() in c._sock.sent

    bad_sig = base64.b64encode(b"\x00" * 32).decode()
    with pytest.raises(PgError, match="server signature"):
        conn_with(bad_sig)._authenticate(10, sasl_req)

    evil_first = (
        f"r=EVIL{server_nonce},s={base64.b64encode(salt).decode()},i=4096"
    )
    with pytest.raises(PgError, match="nonce"):
        conn_with(good_sig, srv_first=evil_first)._authenticate(10, sasl_req)


def test_wire_tls_transport_live():
    """TLS on the TCP transport (SSLRequest bootstrap + in-connection
    handshake): hostssl hba REJECTS plaintext, sslmode=require works
    against the self-signed cert, verify-full succeeds with the real
    cert as root and FAILS against a wrong root — plus capture over
    the encrypted channel."""
    import dataclasses
    import ssl as ssl_mod

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgwire import (
        PgUnavailable,
        ScratchPostgres,
    )

    try:
        server = ScratchPostgres()
        server.start(tcp=True, password="tlspw", tls=True)
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        tcp = server.tcp_params()
        assert tcp.sslmode == "require"
        with tcp.connect() as c:
            assert c.one("select 1 + 1") == 2
            # the server really sees an SSL session
            assert c.one(
                "select ssl from pg_stat_ssl"
                " where pid = pg_backend_pid()"
            ) is True

        # plaintext refused: hostssl lines match no non-TLS connection
        with pytest.raises(PgError) as ei:
            dataclasses.replace(tcp, sslmode="disable").connect()
        assert ei.value.sqlstate == "28000"

        # verify-full against the server's own cert (IP SAN) — and a
        # wrong root must fail the chain check
        with dataclasses.replace(
            tcp, sslmode="verify-full", sslrootcert=server.ssl_cert
        ).connect() as c:
            assert c.one("select 'verified'") == "verified"
        import tempfile

        with tempfile.NamedTemporaryFile("w", suffix=".crt") as wrong:
            import subprocess

            subprocess.run(
                ["openssl", "req", "-x509", "-newkey", "rsa:2048",
                 "-keyout", "/dev/null", "-out", wrong.name, "-days", "1",
                 "-nodes", "-subj", "/CN=evil"],
                capture_output=True,
            )
            with pytest.raises(ssl_mod.SSLCertVerificationError):
                dataclasses.replace(
                    tcp, sslmode="verify-full", sslrootcert=wrong.name
                ).connect()

        # capture rides the encrypted channel unchanged
        with tcp.connect() as c:
            c.query("create table tls_t(id int primary key, v text)")
        po.create_publication(tcp, "tls_pub", ["tls_t"])
        po.create_slot_pgoutput(tcp, "tls_slot")
        with tcp.connect() as c:
            c.query("insert into tls_t values (1, 'enc'), (2, 'rypted')")
        changes = po.parse_pgoutput(
            po.raw_slot_changes_pgoutput(tcp, "tls_slot", "tls_pub")
        )
        assert [ch["after"]["v"] for ch in changes] == ["enc", "rypted"]
    finally:
        server.stop()


def test_pgdatasource_stream_over_tls(spark, tmp_path):
    """The native streaming source with sslmode options: capture over
    the encrypted SCRAM-authenticated channel end to end."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel
    from pgshovel_spark.sources.pgwire import (
        PgUnavailable,
        ScratchPostgres,
    )

    try:
        server = ScratchPostgres()
        server.start(tcp=True, password="tlspw", tls=True)
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        tcp = server.tcp_params()
        with tcp.connect() as c:
            c.query("create table tlst_t(id bigint primary key, v text)")
        po.create_publication(tcp, "tlst_pub", ["tlst_t"])
        po.create_slot_pgoutput(tcp, "tlst_slot")
        with tcp.connect() as c:
            c.query(
                "insert into tlst_t select g, 'v' || g"
                " from generate_series(1, 15) g"
            )
        register_pgshovel(spark)
        got: list = []
        q = (
            spark.readStream.format("pgshovel")
            .option("host", tcp.host)
            .option("port", str(tcp.port))
            .option("password", tcp.password)
            .option("sslmode", "verify-full")
            .option("sslrootcert", server.ssl_cert)
            .option("slot", "tlst_slot")
            .option("publication", "tlst_pub")
            .load()
            .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            assert _wait_for(lambda: len(got) == 15), f"got {len(got)}"
        finally:
            q.stop()
        assert sorted(int(r.after["id"]) for r in got) == list(range(1, 16))
    finally:
        server.stop()


def test_pgdatasource_sharded_survives_server_crash(spark, tmp_path):
    """Server crash-restart (-m immediate + WAL replay) UNDER a live
    sharded query: the probe reports its cached end while the server
    is down (no progress, no exception), commit failures are skipped
    (garbage collection, absorbed by the position filter), and
    capture resumes exactly-once after replay — the query itself
    never fails."""
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel
    from pgshovel_spark.sources.pgwire import (
        PgUnavailable,
        ScratchPostgres,
    )

    try:
        server = ScratchPostgres()
        params = server.start()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table scr_t(id bigint primary key, v text)")
        po.create_publication(params, "scr_pub", ["scr_t"])
        po.create_slot_pgoutput(params, "scr_slot")
        register_pgshovel(spark)
        got: list = []
        q = (
            spark.readStream.format("pgshovel")
            .option("sockdir", params.sockdir)
            .option(
                "shards",
                _json.dumps(
                    [{"slot": "scr_slot", "publication": "scr_pub",
                      "database": "postgres"}]
                ),
            )
            .load()
            .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            with params.connect() as c:
                c.query(
                    "insert into scr_t select g, 'pre' || g"
                    " from generate_series(1, 30) g"
                )
            assert _wait_for(lambda: len(got) == 30), f"got {len(got)}"

            server.restart()  # simulated crash: immediate stop + WAL replay
            # triggers fired against the down/replaying server; the
            # query must still be alive
            assert q.exception() is None
            with params.connect() as c:
                c.query(
                    "insert into scr_t select g, 'post' || g"
                    " from generate_series(31, 50) g"
                )
            assert _wait_for(lambda: len(got) == 50), f"got {len(got)}"
            assert q.exception() is None
            assert sorted(r.seq for r in got) == list(range(50))
            assert sorted(int(r.after["id"]) for r in got) == list(
                range(1, 51)
            )
        finally:
            q.stop()
        pgl.drop_slot(params, "scr_slot")
    finally:
        server.stop()


# ---------------------------------------------------------------------------
# round 13: intra-commit chunking, slot invalidation + rebootstrap,
# sharded compose drills
# ---------------------------------------------------------------------------


def test_sharded_giant_commit_chunked_direct(pg):
    """ONE committed transaction larger than ``max_changes`` spans
    several bounded batches (intra-commit chunking): a 30k-row single
    INSERT with max_changes=5000 drains as six 5000-row batches, the
    slot is NOT advanced until the commit is fully delivered (meta
    carries the partial position instead), seq stays dense, and a
    driver restart MID-COMMIT — fresh reader instance, fresh
    checkpoint — resumes from the persisted chunk position
    (initialOffset seeding)."""
    import dataclasses

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import PgShovelShardedStreamReader

    with pg.connect() as c:
        c.query("create database shr_gc")
    pp = dataclasses.replace(pg, database="shr_gc")
    with pp.connect() as c:
        c.query("create table ev_gc(id bigint primary key, v text)")
    po.create_publication(pp, "shr_pub_gc", ["ev_gc"])
    po.create_slot_pgoutput(pp, "shr_slot_gc")
    with pp.connect() as c:
        pre_flush = c.one(
            "select confirmed_flush_lsn::text from pg_replication_slots"
            " where slot_name = 'shr_slot_gc'"
        )
        c.query(
            "insert into ev_gc select g, 'v' || g"
            " from generate_series(1, 30000) g"
        )
    opts = {
        "sockdir": pg.sockdir,
        "max_changes": "5000",
        "shards": '[{"slot": "shr_slot_gc", "publication": "shr_pub_gc",'
        ' "database": "shr_gc"}]',
    }
    rdr = PgShovelShardedStreamReader(opts)
    cur = rdr.initialOffset()
    sizes, seqs, ids = [], [], []

    def drain_one(rdr, cur):
        end = rdr.latestOffset()
        if end == cur:
            return None
        n = 0
        for p in rdr.partitions(cur, end):
            for b in rdr.read(p):
                n += b.num_rows
                seqs.extend(b.column(9).to_pylist())
                ids.extend(
                    int(dict(m)["id"]) for m in b.column(4).to_pylist()
                )
        sizes.append(n)
        rdr.commit(end)
        return end

    # two chunks, then inspect the mid-commit state
    cur = drain_one(rdr, cur)
    cur = drain_one(rdr, cur)
    assert sizes == [5000, 5000]
    with pp.connect() as c:
        row = c.query(
            "select base_lsn::text, base_seq, part_idx, part_rn,"
            " part_clsn::text from pgshovel_shard_meta"
            " where slot = 'shr_slot_gc'"
        )[0].rows[0]
        mid_flush = c.one(
            "select confirmed_flush_lsn::text from pg_replication_slots"
            " where slot_name = 'shr_slot_gc'"
        )
    assert row[0] == "0/0"  # no full boundary delivered yet
    assert int(row[1]) == 10000 and int(row[2]) == 10000
    assert int(row[3]) > 0 and row[4] is not None
    # the slot was NOT advanced mid-commit (an advance would discard
    # the undelivered tail)
    assert mid_flush == pre_flush

    # driver restart MID-COMMIT: a fresh instance's initialOffset
    # (what a FRESH checkpoint would start from) IS the chunk position
    rdr = PgShovelShardedStreamReader(opts)
    assert rdr.initialOffset() == {"shr_slot_gc": cur["shr_slot_gc"]}
    while True:
        nxt = drain_one(rdr, cur)
        if nxt is None:
            break
        cur = nxt
    assert sizes == [5000] * 6
    assert sorted(seqs) == list(range(30000))
    assert sorted(ids) == list(range(1, 30001))
    with pp.connect() as c:
        row = c.query(
            "select base_seq, part_idx, part_rn, part_clsn"
            " from pgshovel_shard_meta where slot = 'shr_slot_gc'"
        )[0].rows[0]
        end_flush = c.one(
            "select confirmed_flush_lsn::text from pg_replication_slots"
            " where slot_name = 'shr_slot_gc'"
        )
    # episode over: partial state reset, slot advanced to the commit
    assert (int(row[0]), int(row[1]), int(row[2]), row[3]) == (
        30000, 0, 0, None,
    )
    from pgshovel_spark.sources.pgoutput import lsn_to_int
    assert lsn_to_int(end_flush) == cur["shr_slot_gc"]["lsn"]
    pgl.drop_slot(pp, "shr_slot_gc")


def test_sharded_chunk_truncate_frame_jump(pg):
    """A single frame carrying MANY changes (TRUNCATE of several
    relations) cannot be split across chunks: with budget 2 and a
    transaction of [1 insert, truncate-of-3, 1 insert] the chunk plan
    lands the whole 3-change frame in one batch — sizes [1, 3, 1],
    order preserved, seq dense."""
    import dataclasses

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import PgShovelShardedStreamReader

    with pg.connect() as c:
        c.query("create database shr_tj")
    pp = dataclasses.replace(pg, database="shr_tj")
    with pp.connect() as c:
        for t in ("tj_a", "tj_b", "tj_c"):
            c.query(f"create table {t}(id bigint primary key)")
    po.create_publication(pp, "shr_pub_tj", ["tj_a", "tj_b", "tj_c"])
    po.create_slot_pgoutput(pp, "shr_slot_tj")
    with pp.connect() as c:
        c.query(
            "begin; insert into tj_a values (1);"
            " truncate tj_a, tj_b, tj_c;"
            " insert into tj_a values (2); commit"
        )
    rdr = PgShovelShardedStreamReader(
        {
            "sockdir": pg.sockdir,
            "max_changes": "2",
            "shards": '[{"slot": "shr_slot_tj", "publication":'
            ' "shr_pub_tj", "database": "shr_tj"}]',
        }
    )
    cur = rdr.initialOffset()
    sizes, ops, seqs = [], [], []
    for _ in range(10):
        end = rdr.latestOffset()
        if end == cur:
            break
        n = 0
        for p in rdr.partitions(cur, end):
            for b in rdr.read(p):
                n += b.num_rows
                ops.extend(b.column(0).to_pylist())
                seqs.extend(b.column(9).to_pylist())
        sizes.append(n)
        rdr.commit(end)
        cur = end
    assert sizes == [1, 3, 1], sizes
    assert ops == ["INSERT", "TRUNCATE", "TRUNCATE", "TRUNCATE", "INSERT"]
    assert seqs == list(range(5))
    pgl.drop_slot(pp, "shr_slot_tj")


def test_sharded_bounded_multi_commit_stream_drain(spark, pg, tmp_path):
    """Regression for the bounded-drain deadlock in the NORMAL
    (multi-commit) path: Spark fires commit(N) only when batch N+1 is
    constructed, so a probe planning from the COMMITTED meta row
    re-reports batch N's end forever once a backlog needs more than
    one budget-bounded batch.  A 60k-row backlog across 120 commits
    under max_changes=15000 must drain fully in a REAL stream, every
    batch bounded (complete-commit prefixes only: <= budget + one
    commit's overshoot), exactly once."""
    import dataclasses
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_mc")
    pp = dataclasses.replace(pg, database="shr_mc")
    with pp.connect() as c:
        c.query("create table ev_mc(id bigint primary key)")
    po.create_publication(pp, "shr_pub_mc", ["ev_mc"])
    po.create_slot_pgoutput(pp, "shr_slot_mc")
    with pp.connect() as c:
        for i in range(120):
            c.query(
                f"insert into ev_mc select g from"
                f" generate_series({i * 500 + 1}, {i * 500 + 500}) g"
            )
    register_pgshovel(spark)
    batches: dict = {}

    def collect(b, i):
        row = b.selectExpr(
            "count(*) as n", "min(seq) as s0", "max(seq) as s1"
        ).collect()[0]
        if row.n:
            batches[i] = (row.n, row.s0, row.s1)

    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option("max_changes", "15000")
        .option(
            "shards",
            _json.dumps(
                [{"slot": "shr_slot_mc", "publication": "shr_pub_mc",
                  "database": "shr_mc"}]
            ),
        )
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        assert _wait_for(
            lambda: sum(v[0] for v in batches.values()) == 60_000,
            timeout=120,
        ), sum(v[0] for v in batches.values())
    finally:
        q.stop()
        q.awaitTermination(30)
    sizes = [v[0] for v in batches.values()]
    assert len(sizes) >= 4 and all(s <= 15_000 for s in sizes), sizes
    spans = sorted((v[1], v[2]) for v in batches.values())
    assert spans[0][0] == 0 and spans[-1][1] == 59_999
    for (_a0, a1), (b0, _b1) in zip(spans, spans[1:]):
        assert b0 == a1 + 1
    pgl.drop_slot(pp, "shr_slot_mc")


def test_drop_slot_waits_for_the_holding_backend(pg, monkeypatch):
    """A consumer's backend can hold its slot a moment after the
    consumer stopped: drop_slot waits for the release instead of
    failing "active for PID", and still fails if the slot stays
    active past its bound."""
    from pgshovel_spark.sources import pgoutput as po

    with pg.connect() as c:
        c.query("create table dsw_t(id int primary key)")
    po.create_publication(pg, "dsw_pub", ["dsw_t"])
    for slot in ("dsw_slot", "dsw_slot2"):
        po.create_slot_pgoutput(pg, slot)

    rc = po.PgReplicationConnection(pg)
    rc.start_replication("dsw_slot", "dsw_pub")
    release = threading.Timer(0.5, rc.close)
    release.start()
    pgl.drop_slot(pg, "dsw_slot")
    release.join(5)
    assert not release.is_alive()

    monkeypatch.setattr(pgl, "_DROP_WAIT_S", 0.3)
    rc = po.PgReplicationConnection(pg)
    rc.start_replication("dsw_slot2", "dsw_pub")
    try:
        with pytest.raises(PgError, match="active"):
            pgl.drop_slot(pg, "dsw_slot2")
    finally:
        rc.close()
    monkeypatch.undo()
    pgl.drop_slot(pg, "dsw_slot2")
    with pg.connect() as c:
        assert not c.query(
            "select 1 from pg_replication_slots"
            " where slot_name in ('dsw_slot', 'dsw_slot2')"
        )[0].rows


def test_sharded_giant_commit_stream_restart_1m(spark, pg, tmp_path):
    """The verdict-bar drill: a single >=1M-row transaction on one
    shard, ``max_changes`` bounding EVERY batch, checkpoint
    kill/restart MID-COMMIT, end state exact.  Collector aggregates
    per batch (count / seq range / id sum) so a million rows never
    sit in driver Python memory."""
    import dataclasses
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_1m")
    pp = dataclasses.replace(pg, database="shr_1m")
    with pp.connect() as c:
        c.query("create table ev_1m(id bigint primary key)")
    po.create_publication(pp, "shr_pub_1m", ["ev_1m"])
    po.create_slot_pgoutput(pp, "shr_slot_1m")
    n_rows = 1_000_000
    with pp.connect() as c:
        c.query(
            f"insert into ev_1m select g from generate_series(1, {n_rows}) g"
        )
    register_pgshovel(spark)
    ckpt = str(tmp_path / "ck")
    batches: dict = {}  # batchId -> (n, seq_min, seq_max, id_sum)

    def collect(b, i):
        row = b.selectExpr(
            "count(*) as n",
            "min(seq) as s0",
            "max(seq) as s1",
            "sum(cast(after['id'] as bigint)) as ids",
        ).collect()[0]
        if row.n:
            batches[i] = (row.n, row.s0, row.s1, row.ids)

    def total():
        return sum(v[0] for v in batches.values())

    def _start():
        return (
            spark.readStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("max_changes", "100000")
            .option(
                "shards",
                _json.dumps(
                    [{"slot": "shr_slot_1m", "publication": "shr_pub_1m",
                      "database": "shr_1m"}]
                ),
            )
            .load()
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    q = _start()
    try:
        # kill MID-COMMIT: several chunks in, most of the episode left
        assert _wait_for(lambda: total() >= 300_000, timeout=180)
    finally:
        q.stop()
        q.awaitTermination(30)
    with pp.connect() as c:
        part_idx = c.one(
            "select part_idx from pgshovel_shard_meta"
            " where slot = 'shr_slot_1m'"
        )
    assert int(part_idx) > 0  # the kill really landed mid-commit

    q = _start()
    try:
        assert _wait_for(lambda: total() == n_rows, timeout=300), total()
    finally:
        q.stop()
        q.awaitTermination(30)
    # every batch bounded; seq ranges contiguous and disjoint; ids exact
    assert all(v[0] <= 100_000 for v in batches.values())
    spans = sorted((v[1], v[2]) for v in batches.values())
    assert spans[0][0] == 0 and spans[-1][1] == n_rows - 1
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert b0 == a1 + 1, (a0, a1, b0, b1)
    assert sum(v[3] for v in batches.values()) == n_rows * (n_rows + 1) // 2
    assert len(batches) >= 10
    # a stopped query's in-flight executor peek can hold the slot
    # active for a few more seconds — retry the drop
    import time as _time

    for _ in range(60):
        try:
            pgl.drop_slot(pp, "shr_slot_1m")
            break
        except PgError as e:
            if e.sqlstate != "55006":
                raise
            _time.sleep(0.5)


def _invalidate_slot(params, slot, table="ev_junk"):
    """Force the server to invalidate ``slot``: zero WAL retention for
    slots, then churn WAL segments + checkpoint until
    ``pg_replication_slots.wal_status = 'lost'`` — exactly the
    weekend-long consumer outage under ``max_slot_wal_keep_size``."""
    with params.connect() as c:
        c.query("alter system set max_slot_wal_keep_size = 0")
        c.query("select pg_reload_conf()")
    for _ in range(30):
        with params.connect() as c:
            c.query(
                f"create table if not exists {table}(g bigint, v text)"
            )
            c.query(
                f"insert into {table} select g, repeat('x', 1000)"
                " from generate_series(1, 1000) g"
            )
            c.query("select pg_switch_wal()")
            c.query("checkpoint")
        if pgl.slot_wal_status(params, slot) == "lost":
            return
    raise AssertionError(
        f"slot {slot} not invalidated: {pgl.slot_wal_status(params, slot)}"
    )


def test_slot_invalidation_typed_error():
    """A slot the server invalidated (WAL-retention overrun) surfaces
    as the TYPED SlotInvalidatedError naming the slot — from the
    sharded probe AND the single-slot peek — instead of a generic
    55000 buried in a retry loop.  Runs on its own scratch instance:
    max_slot_wal_keep_size is server-global."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import (
        PgShovelShardedStreamReader,
        PgShovelSimpleStreamReader,
    )
    from pgshovel_spark.sources.pgwire import SlotInvalidatedError

    server = _try_server()
    try:
        params = server.start()
    except PgUnavailable as e:
        server.stop()
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table inv_t(id bigint primary key, v text)")
        po.create_publication(params, "inv_pub", ["inv_t"])
        po.create_slot_pgoutput(params, "inv_slot")
        with params.connect() as c:
            c.query("insert into inv_t values (1, 'a')")
        assert pgl.slot_wal_status(params, "inv_slot") in (
            "reserved", "extended", "unreserved",
        )
        _invalidate_slot(params, "inv_slot")

        rdr = PgShovelShardedStreamReader(
            {
                "sockdir": params.sockdir,
                "shards": '[{"slot": "inv_slot", "publication":'
                ' "inv_pub", "database": "postgres"}]',
            }
        )
        with pytest.raises(SlotInvalidatedError, match="inv_slot") as ei:
            rdr.latestOffset()
        assert ei.value.slot == "inv_slot"

        srdr = PgShovelSimpleStreamReader(
            {
                "sockdir": params.sockdir,
                "slot": "inv_slot",
                "publication": "inv_pub",
            }
        )
        with pytest.raises(SlotInvalidatedError, match="inv_slot"):
            srdr.read(srdr.initialOffset())

        # a healthy slot must NOT trip the check
        po.create_slot_pgoutput(params, "inv_ok")
        assert pgl.slot_wal_status(params, "inv_ok") != "lost"
        pgl.check_slot_live(params, "inv_ok")
        pgl.drop_slot(params, "inv_ok")
    finally:
        server.stop()


def test_rebootstrap_self_heal_end_exact(spark, tmp_path):
    """The #1 logical-replication outage, healed end to end: a relay
    mirrors src->dst through the sharded source and the 2PC upsert
    sink; the consumer parks, writes land, the slot is INVALIDATED
    (WAL gone — those changes are unrecoverable from the slot);
    restarting the old stream fails with the typed error; ``cdc
    rebootstrap`` (rebootstrap_slot) rebuilds the shard — same slot
    name, exported-snapshot scan 2PC-upserted at the bumped epoch —
    and the restarted stream (fresh checkpoint, epoch 1) converges
    dst == src exactly, including rows that changed during the
    outage and rows written while the bootstrap scan ran."""
    from pyspark.sql import functions as F

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import (
        register_pgshovel,
        rebootstrap_slot,
    )

    server = _try_server()
    try:
        params = server.start()
    except PgUnavailable as e:
        server.stop()
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table rb_src(id bigint primary key, v text)")
            c.query(
                "create table rb_dst(id bigint primary key, v text,"
                " epoch bigint, seq bigint)"
            )
        po.create_publication(params, "rb_pub", ["rb_src"])
        po.create_slot_pgoutput(params, "rb_slot")
        with params.connect() as c:
            c.query(
                "insert into rb_src select g, 'p1_' || g"
                " from generate_series(1, 20) g"
            )
        register_pgshovel(spark)

        def relay(ckpt: str, epoch: int):
            flat = (
                spark.readStream.format("pgshovel")
                .option("sockdir", params.sockdir)
                .option("epoch", str(epoch))
                .option(
                    "shards",
                    '[{"slot": "rb_slot", "publication": "rb_pub",'
                    ' "database": "postgres"}]',
                )
                .load()
                .filter(F.col("op") != "DELETE")
                .select(
                    F.col("after")["id"].cast("long").alias("id"),
                    F.col("after")["v"].alias("v"),
                    F.col("epoch"),
                    F.col("seq"),
                )
                .dropna(subset=["id"])
                .repartition(2, "id")
            )
            return (
                flat.writeStream.format("pgshovel")
                .option("sockdir", params.sockdir)
                .option("table", "rb_dst")
                .option("keys", "id")
                .option("order_cols", "epoch,seq")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="400 milliseconds")
                .start()
            )

        def dst_count():
            with params.connect() as c:
                return c.one("select count(*) from rb_dst")

        q = relay(str(tmp_path / "ck1"), 0)
        try:
            assert _wait_for(lambda: dst_count() == 20)
        finally:
            q.stop()
            q.awaitTermination(30)

        # the outage: writes land while the consumer is down, then
        # the slot is invalidated — those changes are GONE from WAL
        with params.connect() as c:
            c.query(
                "insert into rb_src select g, 'gap_' || g"
                " from generate_series(21, 30) g"
            )
            c.query("update rb_src set v = 'gap_upd' where id = 5")
        _invalidate_slot(params, "rb_slot")

        # the old stream fails LOUDLY with the typed error
        q = relay(str(tmp_path / "ck1"), 0)
        with pytest.raises(Exception, match="rb_slot.*invalidated"):
            q.awaitTermination(60)
        q.stop()

        # self-heal: rebuild the shard (refuses nothing here — the
        # slot really is lost), with a concurrent writer racing the
        # bootstrap scan
        import threading

        def racing_writes():
            with params.connect() as c:
                c.query(
                    "insert into rb_src select g, 'race_' || g"
                    " from generate_series(31, 35) g"
                )

        t = threading.Thread(target=racing_writes)
        t.start()
        res = rebootstrap_slot(
            spark,
            params,
            "rb_slot",
            [("rb_src", "id")],
            to_table="rb_dst",
            keys=["id"],
            columns=["id", "v"],
            epoch=1,
        )
        t.join()
        assert res["epoch"] == 1 and res["rows"]["rb_src"] >= 30

        # post-bootstrap writes: only the NEW stream can deliver them
        with params.connect() as c:
            c.query(
                "insert into rb_src select g, 'p2_' || g"
                " from generate_series(36, 40) g"
            )
            c.query("update rb_src set v = 'p2_upd' where id = 21")

        q = relay(str(tmp_path / "ck2"), 1)  # FRESH checkpoint
        try:
            def exact():
                with params.connect() as c:
                    return c.one(
                        "select count(*) from rb_src s full join rb_dst d"
                        " using (id) where d.v is distinct from s.v"
                    ) == 0 and c.one("select count(*) from rb_dst") == 40

            assert _wait_for(exact, timeout=90)
        finally:
            q.stop()
            q.awaitTermination(30)
        with params.connect() as c:
            # the outage-lost changes were healed by the re-read
            assert c.one("select v from rb_dst where id = 5") == "gap_upd"
            assert c.one("select v from rb_dst where id = 25") == "gap_25"
            # racing + post-bootstrap writes all present
            assert c.one("select v from rb_dst where id = 33") == "race_33"
            assert c.one("select v from rb_dst where id = 21") == "p2_upd"
            assert c.one("select v from rb_dst where id = 38") == "p2_38"
    finally:
        server.stop()


def test_simple_reader_max_changes_caps_batches(pg):
    """The single-slot reader's ``max_changes`` is now a real BATCH
    bound, not just a peek-window hint: a 100-row transaction under
    max_changes=30 drains as [30, 30, 30, 10], commits mid-commit
    advance the slot only to the last complete boundary ('adv' — here
    none exists, so the watermark holds), seq stays dense and the
    uncommitted-range replay contract still holds."""
    import dataclasses

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import PgShovelSimpleStreamReader

    with pg.connect() as c:
        c.query("create database smp_cap")
    pp = dataclasses.replace(pg, database="smp_cap")
    with pp.connect() as c:
        c.query("create table cap_t(id bigint primary key, v text)")
    po.create_publication(pp, "cap_pub", ["cap_t"])
    po.create_slot_pgoutput(pp, "cap_slot")
    with pp.connect() as c:
        pre_flush = c.one(
            "select confirmed_flush_lsn::text from pg_replication_slots"
            " where slot_name = 'cap_slot'"
        )
        c.query(
            "insert into cap_t select g, 'v' || g"
            " from generate_series(1, 100) g"
        )
    rdr = PgShovelSimpleStreamReader(
        {
            "sockdir": pp.sockdir,
            "database": "smp_cap",
            "slot": "cap_slot",
            "publication": "cap_pub",
            "max_changes": "30",
        }
    )
    cur = rdr.initialOffset()
    sizes, ends = [], []
    for _ in range(10):
        it, end = rdr.read(cur)
        n = sum(b.num_rows for b in it)
        if n == 0:
            assert end == cur  # idle reproduces the start EXACTLY
            break
        sizes.append(n)
        ends.append(end)
        if len(ends) == 2:
            # replay contract for a capped, NOT-yet-committed range:
            # batch 2 re-produces exactly (the restart path)
            replay = list(rdr.readBetweenOffsets(ends[0], ends[1]))
            assert sum(b.num_rows for b in replay) == 30
        rdr.commit(end)
        cur = end
    assert sizes == [30, 30, 30, 10], sizes
    # the three mid-commit ends carry a safe advance boundary; with no
    # complete earlier transaction it is 0 and the watermark held
    assert all("adv" in e for e in ends[:3]) and "adv" not in ends[3]
    assert all(e["adv"] == 0 for e in ends[:3])
    with pp.connect() as c:
        mid_flush = c.one(
            "select confirmed_flush_lsn::text from pg_replication_slots"
            " where slot_name = 'cap_slot'"
        )
    from pgshovel_spark.sources.pgoutput import lsn_to_int
    # final (uncapped) batch ended at the commit boundary: advanced
    assert lsn_to_int(mid_flush) == ends[3]["lsn"] > lsn_to_int(pre_flush)
    # a second small transaction flows normally after the episode
    with pp.connect() as c:
        c.query("insert into cap_t values (101, 'tail')")
    it, end = rdr.read(cur)
    assert sum(b.num_rows for b in it) == 1 and "adv" not in end
    rdr.commit(end)
    pgl.drop_slot(pp, "cap_slot")


def test_sharded_schema_drift_mid_stream(spark, pg, tmp_path):
    """Compose drill: mid-stream DDL under the SHARDED reader (the
    single-reader twin is test_pgdatasource_schema_drift_mid_stream).
    The executor peek decodes with a fresh Relation dict per batch, so
    post-ALTER rows must carry the new column — including when the
    drift lands BETWEEN two batches of the same shard — and the
    server-side probe's counting must not be disturbed by the extra
    Relation frames."""
    import dataclasses
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_dr")
    pp = dataclasses.replace(pg, database="shr_dr")
    with pp.connect() as c:
        c.query("create table drift_s(id int primary key, v text)")
    po.create_publication(pp, "shr_pub_dr", ["drift_s"])
    po.create_slot_pgoutput(pp, "shr_slot_dr")
    register_pgshovel(spark)
    got: list = []
    q = (
        spark.readStream.format("pgshovel")
        .option("sockdir", pg.sockdir)
        .option(
            "shards",
            _json.dumps(
                [{"slot": "shr_slot_dr", "publication": "shr_pub_dr",
                  "database": "shr_dr"}]
            ),
        )
        .load()
        .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="400 milliseconds")
        .start()
    )
    try:
        with pp.connect() as c:
            c.query("insert into drift_s values (1, 'before')")
        assert _wait_for(lambda: len(got) == 1)
        assert set(got[0].after.keys()) == {"id", "v"}

        with pp.connect() as c:  # live DDL while the query runs
            c.query("alter table drift_s add column extra bigint default 7")
            c.query("insert into drift_s values (2, 'after', 42)")
        assert _wait_for(lambda: len(got) == 2)
        post = [r for r in got if r.key["id"] == "2"][0]
        assert set(post.after.keys()) == {"id", "v", "extra"}
        assert post.after["extra"] == "42"
        # pre-drift rows keep their original shape — no retro-widening
        assert set(got[0].after.keys()) == {"id", "v"}
        # drift + more DML in ONE transaction mid-stream
        with pp.connect() as c:
            c.query(
                "begin; alter table drift_s drop column extra;"
                " insert into drift_s values (3, 'post-drop');"
                " update drift_s set v = 'u1' where id = 1; commit"
            )
        assert _wait_for(lambda: len(got) == 4), f"got {len(got)}"
        narrow = [r for r in got if r.key["id"] == "3"][0]
        assert set(narrow.after.keys()) == {"id", "v"}
        assert sorted(r.seq for r in got) == list(range(4))
    finally:
        q.stop()
        q.awaitTermination(30)
    pgl.drop_slot(pp, "shr_slot_dr")


def test_sharded_stream_over_tls(spark, tmp_path):
    """Compose drill: the SHARDED reader over the verify-full TLS +
    SCRAM transport (the single-reader twin is
    test_pgdatasource_stream_over_tls) — two slots, every probe /
    executor peek / meta write / slot advance on the encrypted
    authenticated channel, exactness held."""
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel
    from pgshovel_spark.sources.pgwire import (
        PgUnavailable,
        ScratchPostgres,
    )

    try:
        server = ScratchPostgres()
        server.start(tcp=True, password="tlspw", tls=True)
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        tcp = server.tcp_params()
        with tcp.connect() as c:
            c.query("create table tlsh_a(id bigint primary key, v text)")
            c.query("create table tlsh_b(id bigint primary key, v text)")
        po.create_publication(tcp, "tlsh_pub_a", ["tlsh_a"])
        po.create_publication(tcp, "tlsh_pub_b", ["tlsh_b"])
        po.create_slot_pgoutput(tcp, "tlsh_slot_a")
        po.create_slot_pgoutput(tcp, "tlsh_slot_b")
        with tcp.connect() as c:
            c.query(
                "insert into tlsh_a select g, 'a' || g"
                " from generate_series(1, 15) g"
            )
            c.query(
                "insert into tlsh_b select g, 'b' || g"
                " from generate_series(1, 10) g"
            )
        register_pgshovel(spark)
        got: list = []
        q = (
            spark.readStream.format("pgshovel")
            .option("host", tcp.host)
            .option("port", str(tcp.port))
            .option("password", tcp.password)
            .option("sslmode", "verify-full")
            .option("sslrootcert", server.ssl_cert)
            .option(
                "shards",
                _json.dumps(
                    [
                        {"slot": "tlsh_slot_a", "publication": "tlsh_pub_a"},
                        {"slot": "tlsh_slot_b", "publication": "tlsh_pub_b"},
                    ]
                ),
            )
            .load()
            .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="400 milliseconds")
            .start()
        )
        try:
            assert _wait_for(lambda: len(got) == 25), f"got {len(got)}"
            # live writes after the backlog drained: the steady-state
            # probe/commit cycle runs over TLS too
            with tcp.connect() as c:
                c.query("insert into tlsh_a values (16, 'late')")
            assert _wait_for(lambda: len(got) == 26), f"got {len(got)}"
            by_pub: dict = {}
            for r in got:
                by_pub.setdefault(r.publisher, []).append(r)
            assert sorted(r.seq for r in by_pub["tlsh_slot_a"]) == list(
                range(16)
            )
            assert sorted(r.seq for r in by_pub["tlsh_slot_b"]) == list(
                range(10)
            )
        finally:
            q.stop()
            q.awaitTermination(30)
    finally:
        server.stop()


def test_sharded_fresh_checkpoint_resumes_from_meta(spark, pg, tmp_path):
    """ADVICE-r12 regression: a FRESH checkpoint against a slot whose
    pgshovel_shard_meta row persists must resume from the persisted
    watermark — before the initialOffset seeding fix this raised the
    seq-reproduction RuntimeError on every trigger with no recovery
    path.  Exactness: no re-delivery of settled rows, seq continues
    densely."""
    import dataclasses
    import json as _json

    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    with pg.connect() as c:
        c.query("create database shr_fc")
    pp = dataclasses.replace(pg, database="shr_fc")
    with pp.connect() as c:
        c.query("create table ev_fc(id bigint primary key, v text)")
    po.create_publication(pp, "shr_pub_fc", ["ev_fc"])
    po.create_slot_pgoutput(pp, "shr_slot_fc")
    register_pgshovel(spark)
    shards = _json.dumps(
        [{"slot": "shr_slot_fc", "publication": "shr_pub_fc",
          "database": "shr_fc"}]
    )

    def _start(ckpt, sink):
        return (
            spark.readStream.format("pgshovel")
            .option("sockdir", pg.sockdir)
            .option("shards", shards)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    got1: list = []
    q = _start(str(tmp_path / "ck1"), lambda b, _i: got1.extend(b.collect()))
    try:
        with pp.connect() as c:
            c.query(
                "insert into ev_fc select g, 'a' || g"
                " from generate_series(1, 20) g"
            )
        assert _wait_for(lambda: len(got1) == 20)
        # commit cadence: commit(N) fires only when batch N+1 is
        # CONSTRUCTED, and an idle stream constructs none — pump TWO
        # nudge writes so the first pump's batch settles into meta
        # (the second pump's batch stays un-settled: the durable
        # watermark always trails the frontier by one batch)
        with pp.connect() as c:
            c.query("insert into ev_fc values (21, 'pump1')")
        assert _wait_for(lambda: len(got1) == 21)
        with pp.connect() as c:
            c.query("insert into ev_fc values (22, 'pump2')")
        assert _wait_for(lambda: len(got1) == 22)

        def meta_settled():
            with pp.connect() as c:
                try:
                    return c.one(
                        "select base_seq from pgshovel_shard_meta"
                        " where slot = 'shr_slot_fc'"
                    ) == 21
                except PgError:
                    return False

        assert _wait_for(meta_settled)
    finally:
        q.stop()
        q.awaitTermination(30)

    # writes while down, then a FRESH checkpoint (old one abandoned)
    with pp.connect() as c:
        c.query(
            "insert into ev_fc select g, 'b' || g"
            " from generate_series(23, 32) g"
        )
    got2: list = []
    q = _start(str(tmp_path / "ck2"), lambda b, _i: got2.extend(b.collect()))
    try:
        assert _wait_for(lambda: len(got2) == 11), f"got {len(got2)}"
        # resumes from the SETTLED watermark (seq 21): rows 1..21 are
        # never re-delivered; pump2 (row 22) sat in the one un-settled
        # trailing batch, so a brand-new consumer correctly re-reads
        # it — the same replay the old checkpoint would perform
        assert sorted(int(r.after["id"]) for r in got2) == list(
            range(22, 33)
        )
        assert sorted(r.seq for r in got2) == list(range(21, 32))
    finally:
        q.stop()
        q.awaitTermination(30)
    pgl.drop_slot(pp, "shr_slot_fc")

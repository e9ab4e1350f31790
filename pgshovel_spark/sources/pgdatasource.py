"""Native Spark streaming source for live Postgres logical decoding —
``spark.readStream.format("pgshovel")`` via PySpark 4.1's public
Python DataSource API (``pyspark.sql.datasource``).

This replaces the parquet-landing indirection (sources/pglanding.py —
slot -> parquet files -> file stream) with a CHECKPOINT-NATIVE source:
Spark's own offset log is the only watermark.  The reader exposes the
replication slot through ``SimpleDataSourceStreamReader`` — the API
Spark provides precisely for driver-coordinated, inherently-serial
sources (a slot decodes WAL in commit order; ordering IS the
contract) — and the engine's two-phase peek/advance discipline maps
1:1 onto the API's replay contract:

- ``read(start)``     = non-destructive PEEK of the slot, filtered to
                        positions after ``start`` (at-least-once pull);
- ``commit(end)``     = ``pg_replication_slot_advance`` to the last
                        consumed COMMIT lsn — the slot watermark moves
                        only after Spark has durably committed the
                        batch, so a crash anywhere replays losslessly;
- ``readBetweenOffsets(start, end)``
                      = deterministic re-peek of an uncommitted range
                        after a query restart (the data is still in
                        the slot because commit() never ran for it).

Offsets are LSN-backed and JSON-serializable:

    ``{"lsn": <commit lsn as int>, "idx": <next change index within
       that commit>, "seq": <dense global change sequence>}``

POSITION DESIGN (the subtle part): logical decoding emits WHOLE
transactions in COMMIT order, so a change's own WAL record lsn is NOT
monotone across a stream — a transaction that started early and
committed late arrives with change lsns LOWER than everything already
delivered.  Offsets therefore key on the transaction's COMMIT-record
lsn (stamped on every change by both parsers as ``commit_lsn``) plus
the change's index within its transaction — the same (commit_lsn,
sequence) discipline production CDC connectors use.  A peeked batch
always contains whole transactions (parsers buffer until COMMIT), so
batch boundaries never split a transaction and ``commit(end)`` can
safely advance the slot to ``end.lsn``.

The ``seq`` component continues the envelope's dense per-publisher
sequence ACROSS batches and restarts (it rides in the checkpointed
offset), so downstream (epoch, seq)-ordered MERGE sinks need no
landing-side rebasing.

Scale posture: the slot pull is control-plane and serial BY PROTOCOL
(one walsender/slot decodes in commit order); sharding happens per
database with one slot+source each, and executor fan-out happens after
the source hands rows to Spark (the runner converts them to Arrow
batches).  Since round 12 the fan-out can happen BEFORE the hand-off
too: ``option("shards", '[{"slot": ..., "publication": ...,
"database": ...}, ...]')`` switches to the full
``DataSourceStreamReader`` (PgShovelShardedStreamReader) — one input
partition per slot, peek/decode/parse on EXECUTORS, offsets a per-slot
(commit-lsn, idx, seq) vector — measured 80k rows/s offered sustained
with 8 shards (92k effective at 120k offered) vs the ~15k
single-slot ceiling (PGRELAY.json pglive_stream_sharded*).  Both in-core plugins are supported over the SQL transport
(``pg_logical_slot_peek[_binary]_changes``): ``pgoutput`` (the
production plugin, binary, publication-filtered, protocol v1/v2 with
streamed in-progress transactions) and ``test_decoding``.

``transport=walsender`` (pgoutput only) is the HYBRID fast path:
steady-state reads ride one persistent START_REPLICATION CopyBoth
session held by the reader (the runner process is long-lived; the
push decode path measures ~3-4x the peek transport), commits confirm
via Standby Status Update (the held session keeps the slot active, so
a SQL advance would fail), and ``readBetweenOffsets`` — which a live
push stream cannot serve (frames arrive once) — stays on the SQL
peek: restarts replay the pending batch BEFORE the new run opens a
session, and the two transports agree on (commit_lsn, idx) positions
(live-tested).

Reference behavior (SURVEY.md §1.1/§2.A [recalled]): pgshovel's relay
tails a capture queue and republishes mutation batches with dense
sequence numbers; this source is that relay re-expressed as a Spark
streaming source with Spark's checkpoint as the delivery ledger.

Usage::

    from pgshovel_spark.sources.pgdatasource import register_pgshovel
    register_pgshovel(spark)
    df = (spark.readStream.format("pgshovel")
          .option("sockdir", params.sockdir)
          .option("slot", "my_slot")
          .option("publication", "my_pub")      # pgoutput (default)
          .load())                               # CHANGE_SCHEMA rows

NOTE: the DataSource class is pickled BY REFERENCE into Spark's
python runner process — ``pgshovel_spark`` must be importable there
(run from the repo root or export PYTHONPATH=/root/repo, the same
rule every mapInPandas stage already obeys).
"""

from __future__ import annotations

import json
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

__all__ = ["PgShovelDataSource", "register_pgshovel", "rebootstrap_slot"]


def _opt(options, key: str, default=None):
    v = options.get(key)
    return default if v is None else v



def _is_transient(e: BaseException) -> bool:
    """Server-outage error family (failover/crash 57P*, connection
    08*, slot-contention 55006, socket errors): safe to retry or to
    report no-progress — shared by both stream readers."""
    from pgshovel_spark.sources.pgwire import PgError

    if isinstance(e, (ConnectionError, OSError)) and not isinstance(e, PgError):
        return True
    return isinstance(e, PgError) and (
        e.sqlstate.startswith("57P")
        or e.sqlstate.startswith("08")
        or e.sqlstate == "55006"
    )


def _params_from_options(options, database: str | None = None):
    """PgParams from source/sink options — UNIX socket (``sockdir``)
    or TCP (``host`` + ``password``, SCRAM/MD5/cleartext per server),
    the same two transports the wire client speaks."""
    from pgshovel_spark.sources.pgwire import PgParams

    sockdir = _opt(options, "sockdir")
    host = _opt(options, "host")
    if not sockdir and not host:
        raise ValueError("pgshovel requires option 'sockdir' or 'host'")
    return PgParams(
        sockdir=sockdir or "",
        database=database or _opt(options, "database", "postgres"),
        user=_opt(options, "user", "postgres"),
        port=int(_opt(options, "port", "5432")),
        host=host or "",
        password=_opt(options, "password", ""),
        sslmode=_opt(options, "sslmode", "disable"),
        sslrootcert=_opt(options, "sslrootcert", ""),
    )


# ---------------------------------------------------------------------------
# position algebra + Arrow building, shared by the simple (single-slot)
# and sharded (partition-parallel) stream readers
# ---------------------------------------------------------------------------


def _change_row(ch: dict, seq: int, publisher: str, epoch: int) -> tuple:
    from pgshovel_spark.sources.pgwire import _dec_tstz

    ts = ch.get("ts")
    if isinstance(ts, str):
        ts = _dec_tstz(ts)
    txid = ch.get("txid")
    return (
        ch["op"],
        ch["table"],
        ch["key"],
        ch["before"],
        ch["after"],
        int(txid) if txid is not None else None,
        ts,
        publisher,
        epoch,
        seq,
    )


def _slice_changes(
    changes: list,
    start: dict,
    upto: dict | None,
    publisher: str,
    epoch: int,
    max_rows: int | None = None,
) -> tuple[list, dict, int]:
    """Rows strictly inside (start, upto] by (commit_lsn, idx)
    position, with dense seq continuation; returns ``(rows, end,
    adv)`` where ``adv`` is the highest commit lsn whose transaction
    is FULLY inside the returned rows-or-earlier — the safe slot-
    advance target.  ``max_rows`` caps the slice (the simple reader's
    batch bound): a cap landing MID-COMMIT leaves ``adv`` at the
    previous boundary, because advancing the slot to a partially-
    delivered commit's lsn would discard its undelivered tail (the
    next peek replays the whole transaction and the position filter
    skips the delivered prefix).  Uncapped slices always end at a
    transaction boundary (parsers emit whole transactions), so there
    ``adv == end['lsn']``."""
    from pgshovel_spark.sources.pgoutput import lsn_to_int

    rows: list[tuple] = []
    lsn, idx, seq = start["lsn"], start["idx"], start["seq"]
    adv = 0
    prev_c, j = None, 0
    stopped = False
    for ch in changes:
        c_lsn = lsn_to_int(ch["commit_lsn"])
        new_commit = c_lsn != prev_c
        if new_commit and prev_c is not None:
            adv = prev_c  # the previous commit's run is complete
        j = j + 1 if not new_commit else 0
        prev_c = c_lsn
        if (c_lsn, j) < (start["lsn"], start["idx"]):
            continue  # already delivered in an earlier batch
        if upto is not None and (c_lsn, j) >= (upto["lsn"], upto["idx"]):
            stopped = True
            break
        if max_rows is not None and len(rows) >= max_rows:
            # cap: adv already holds the last completed boundary (the
            # loop-top run-change update covers the cap landing
            # exactly on a boundary)
            stopped = True
            break
        rows.append(_change_row(ch, seq, publisher, epoch))
        seq += 1
        lsn, idx = c_lsn, j + 1
    if not stopped and prev_c is not None:
        # list exhausted: parsers emit whole transactions, so the
        # last commit seen is complete
        adv = prev_c
    return rows, {"lsn": lsn, "idx": idx, "seq": seq}, adv


#: rows per emitted Arrow RecordBatch (bounds IPC message size on an
#: unbounded first read over a large backlog)
_ARROW_CHUNK = 65536


def _changes_to_batches(rows: list) -> list:
    """Column-build Arrow RecordBatches from CHANGE_SCHEMA row tuples.
    Stream-reader ``read`` may return ``Iterator[pa.RecordBatch]``
    instead of tuples (public DataSource contract); the runner then
    ships the batches verbatim instead of re-converting row-at-a-time
    in ``records_to_arrow_batches`` — measured 4x cheaper on the
    40k-row capture cycles this source runs (EXPERIMENTS.md r11)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pgshovel_spark.streaming.change_stream import CHANGE_SCHEMA

    sch = to_arrow_schema(CHANGE_SCHEMA)
    out = []
    for lo in range(0, len(rows), _ARROW_CHUNK):
        chunk = rows[lo : lo + _ARROW_CHUNK]
        cols = list(zip(*chunk))
        arrays = [
            pa.array(list(cols[i]), type=sch.field(i).type)
            for i in range(len(sch))
        ]
        out.append(pa.RecordBatch.from_arrays(arrays, schema=sch))
    return out


class PgShovelSimpleStreamReader(SimpleDataSourceStreamReader):
    """Driver-side slot reader implementing the peek/advance contract.

    One fresh wire connection per pull (the simple-query protocol's
    slot functions) — no long-lived session to fail over; a dead
    server simply fails the trigger and the next one re-peeks from
    ``confirmed_flush_lsn``.
    """

    def __init__(self, options):
        self.params = _params_from_options(options)
        self.slot = _opt(options, "slot")
        if not self.slot:
            raise ValueError("pgshovel source requires option 'slot'")
        self.plugin = _opt(options, "plugin", "pgoutput")
        if self.plugin not in ("pgoutput", "test_decoding"):
            raise ValueError(f"unknown plugin {self.plugin!r}")
        self.publication = _opt(options, "publication")
        if self.plugin == "pgoutput" and not self.publication:
            raise ValueError("plugin=pgoutput requires option 'publication'")
        self.proto_version = int(_opt(options, "proto_version", "1"))
        self.streaming = _opt(options, "streaming", "false").lower() == "true"
        # decoder-side replication-origin filter (parse_pgoutput):
        # "none" drops foreign-origin transactions whole (loop
        # prevention in bidirectional topologies); pgoutput only
        self.origin = _opt(options, "origin", "any")
        if self.origin not in ("any", "none"):
            raise ValueError(f"origin must be 'any' or 'none', got {self.origin!r}")
        self.publisher = _opt(options, "publisher", self.slot)
        self.epoch = int(_opt(options, "epoch", "0"))
        kc = _opt(options, "key_cols")
        self.key_cols = json.loads(kc) if kc else None
        mc = _opt(options, "max_changes")
        # upto_nchanges bounds RAW decoded rows per peek; Postgres
        # completes the in-flight transaction past the limit, so a
        # bounded peek still returns whole transactions.
        self.max_changes = int(mc) if mc else None
        # transport=walsender (pgoutput only): steady-state reads come
        # from ONE persistent START_REPLICATION CopyBoth session held
        # by the reader (the runner process is long-lived) — the
        # server PUSHES decoded transactions, ~3-4x the peek
        # transport's decode rate.  The replay path (restart
        # readBetweenOffsets) still uses the SQL peek: after a crash
        # the old runner is gone, the slot is free, and a peek from
        # confirmed_flush_lsn deterministically re-produces any
        # uncommitted range — push for speed, pull for replay.
        self.transport = _opt(options, "transport", "sql")
        if self.transport not in ("sql", "walsender"):
            raise ValueError(f"transport must be 'sql' or 'walsender', got {self.transport!r}")
        if self.transport == "walsender" and self.plugin != "pgoutput":
            raise ValueError("transport=walsender requires plugin=pgoutput")
        #: per-trigger poll window on the walsender transport
        self.poll_seconds = float(_opt(options, "poll_seconds", "1.0"))
        self._ws = None  # (PgReplicationConnection, ReplicationStream)
        # RESTART-RACE GUARD: after a (re)start the engine may call
        # latestOffset -> read() BEFORE the replayed pending batch's
        # executor readBetweenOffsets peek runs; a walsender session
        # opened by that first read would hold the slot ACTIVE and
        # fail the replay peek with 55006.  Reads therefore stay on
        # the SQL peek until the FIRST commit() of this run — by then
        # every pending batch is settled (commits are sequential) and
        # the push session can safely take the slot.
        self._saw_commit = False

    # -- offset algebra ----------------------------------------------------

    def initialOffset(self) -> dict:
        # Position 0: everything decodable from the slot's
        # confirmed_flush_lsn onward is new.  seq starts dense at 0.
        return {"lsn": 0, "idx": 0, "seq": 0}

    def _peek_parse(self) -> list:
        # raw pulls go through the ONE shared SQL construction per
        # plugin (raw_slot_changes[_pgoutput]) — the pull_changes*
        # helpers use the same, so the paths cannot drift.  The pull
        # retries briefly on 55006 ("slot is active"): two concurrent
        # SQL peeks (the runner's read racing an executor's restart
        # replay) contend transiently on the slot's active lock.
        import time

        from pgshovel_spark.sources.pgwire import PgError

        def pull():
            if self.plugin == "pgoutput":
                from pgshovel_spark.sources.pgoutput import (
                    raw_slot_changes_pgoutput,
                )

                return raw_slot_changes_pgoutput(
                    self.params,
                    self.slot,
                    self.publication,
                    proto_version=self.proto_version,
                    streaming=self.streaming,
                    limit=self.max_changes,
                )
            from pgshovel_spark.sources.pglogical import raw_slot_changes

            return raw_slot_changes(
                self.params, self.slot, limit=self.max_changes
            )

        for attempt in range(20):
            try:
                raw = pull()
                break
            except (PgError, ConnectionError, OSError) as e:
                # 55006: concurrent peeks contending on the slot's
                # active lock; the wider family: a crash-restarting
                # server (57P*/08*/socket) — ride through a short
                # outage instead of failing the trigger (outages past
                # ~10 s still fail -> the supervisor-restart posture)
                if attempt == 19 or not _is_transient(e):
                    if isinstance(e, PgError) and e.sqlstate == "55000":
                        # "can no longer get changes from slot": check
                        # whether the server INVALIDATED it (WAL-
                        # retention overrun) and surface that TYPED —
                        # the unrecoverable case a retry loop or a
                        # generic stack trace would bury
                        from pgshovel_spark.sources.pglogical import (
                            check_slot_live,
                        )

                        check_slot_live(self.params, self.slot)
                    raise
                time.sleep(0.5)
        if self.plugin == "pgoutput":
            from pgshovel_spark.sources.pgoutput import parse_pgoutput

            return parse_pgoutput(raw, origin=self.origin)
        from pgshovel_spark.sources.pglogical import parse_test_decoding

        return parse_test_decoding(raw, self.key_cols)

    def _slice(
        self,
        changes: list,
        start: dict,
        upto: dict | None,
        max_rows: int | None = None,
    ) -> tuple[list, dict, int]:
        return _slice_changes(
            changes, start, upto, self.publisher, self.epoch, max_rows
        )

    # -- SimpleDataSourceStreamReader contract ------------------------------

    def _to_batches(self, rows: list) -> list:
        return _changes_to_batches(rows)

    # -- walsender steady-state session --------------------------------------

    def _ensure_ws(self):
        if self._ws is None:
            from pgshovel_spark.sources.pgoutput import PgReplicationConnection

            rc = PgReplicationConnection(self.params)
            stream = rc.start_replication(
                self.slot,
                self.publication,
                proto_version=self.proto_version,
                streaming=self.streaming,
            )
            stream.origin = self.origin
            self._ws = (rc, stream)
        return self._ws

    def _close_ws(self) -> None:
        if self._ws is not None:
            rc, stream, = self._ws[0], self._ws[1]
            try:
                stream.stop()
            except Exception:
                pass
            try:
                rc.close()
            finally:
                self._ws = None

    def _walsender_parse(self) -> list:
        """Collect committed transactions pushed within the poll
        window.  A dead session (failover, pg_terminate_backend,
        server crash) drops BOTH the connection and any un-sliced
        parse: the slot replays everything past confirmed_flush on
        reconnect, and keeping the partial batch would duplicate rows
        WITHIN one read (the position filter only dedupes across
        batches) — LandingCapture.pull_once's exact contract."""
        import time

        from pgshovel_spark.sources.pgwire import PgError

        parsed: list = []
        deadline = time.time() + self.poll_seconds
        while time.time() < deadline:
            try:
                _rc, stream = self._ensure_ws()
                got = stream.read(
                    max_seconds=max(0.1, deadline - time.time()),
                    relations=stream.relations,
                )
            except (ConnectionError, OSError, PgError) as e:
                # retryable: failover/kill (57P*), connection family
                # (08*), and 55006 — the slot still held by a prior
                # run's session that is in the middle of dying
                if isinstance(e, PgError) and not (
                    e.sqlstate.startswith("57P")
                    or e.sqlstate.startswith("08")
                    or e.sqlstate == "55006"
                ):
                    if e.sqlstate == "55000":
                        # START_REPLICATION on an invalidated slot:
                        # surface the typed unrecoverable error
                        from pgshovel_spark.sources.pglogical import (
                            check_slot_live,
                        )

                        check_slot_live(self.params, self.slot)
                    raise
                self._close_ws()
                parsed = []
                time.sleep(0.2)  # no hot spin while the server is down
                continue
            if not got:
                break
            parsed.extend(got)
        return parsed

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        if self.transport == "walsender" and self._saw_commit:
            # push frames arrive ONCE: a capped tail would be lost
            # (the position filter only dedupes re-peeked data), so
            # max_changes bounds only the peek transport; walsender
            # batches are bounded by the poll window instead
            changes, cap = self._walsender_parse(), None
        else:
            changes, cap = self._peek_parse(), self.max_changes
        rows, end, adv = self._slice(changes, start, None, max_rows=cap)
        if not rows:
            # idle: reproduce the start offset EXACTLY (including any
            # 'adv' key a capped predecessor batch left in it) — a
            # fresh dict with different keys would make every trigger
            # look like a new offset
            return iter([]), dict(start)
        if adv != end["lsn"]:
            # capped MID-COMMIT: commit() must advance the slot only
            # to the last complete transaction boundary — advancing
            # to end.lsn would discard the commit's undelivered tail
            end = dict(end)
            end["adv"] = adv
        # list iterator: the prefetch wrapper copy.copy()s it for the
        # cache, which a generator would not survive
        return iter(self._to_batches(rows)), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # ALWAYS the SQL peek, even on transport=walsender: replay
        # runs on executors after a restart, when no walsender session
        # exists yet (the engine replays the pending batch BEFORE the
        # first latestOffset of the new run), and a peek from
        # confirmed_flush deterministically re-produces any
        # uncommitted range.
        rows, got, _adv = self._slice(self._peek_parse(), start, end)
        if got["seq"] != end["seq"]:
            # The slot can no longer reproduce the planned range —
            # only possible if something advanced it past data Spark
            # never committed (operator error / external consumer).
            # Surfacing loudly beats silently shipping a short batch.
            raise RuntimeError(
                f"slot {self.slot!r} cannot replay offsets "
                f"{start} .. {end}: got seq {got['seq']}, "
                f"expected {end['seq']} (slot advanced externally?)"
            )
        return iter(self._to_batches(rows))

    def commit(self, end: dict) -> None:
        # Move the slot watermark to the last consumed commit record.
        # Batches hold whole transactions, so end.lsn is always a
        # commit boundary; advance is monotone server-side (never
        # moves backwards), so replayed commits after a restart are
        # no-ops.
        self._saw_commit = True  # pending replays settled: the push
        # session may take the slot from the next read on
        if not end.get("lsn"):
            return
        # a max_changes-capped batch that ended MID-COMMIT carries
        # 'adv' = the last complete transaction boundary; advancing to
        # end.lsn would discard the partially-delivered commit's tail
        # (the next peek replays it and the position filter dedupes).
        # adv == 0 (batch entirely inside one commit, no earlier
        # boundary): nothing safe to advance — the slot watermark is
        # garbage collection, not correctness.
        target = end.get("adv", end["lsn"])
        if not target:
            return
        if self.transport == "walsender" and self._ws is not None:
            # the held session keeps the slot ACTIVE (a SQL advance
            # would fail 55006): confirm via Standby Status Update,
            # the wire-native watermark move
            _rc, stream = self._ws
            stream.send_status(target)
            return
        from pgshovel_spark.sources.pglogical import advance
        from pgshovel_spark.sources.pgoutput import lsn_to_str

        advance(self.params, self.slot, lsn_to_str(target))


# ---------------------------------------------------------------------------
# the SHARDED half: partition-parallel capture (full DataSourceStreamReader)
# ---------------------------------------------------------------------------


class _ShardPartition(InputPartition):
    """Picklable per-shard work unit: (shard spec, start, end)."""

    def __init__(self, shard: dict, start: dict, end: dict):
        super().__init__(shard.get("slot"))
        self.shard = shard
        self.start = start
        self.end = end


class PgShovelShardedStreamReader(DataSourceStreamReader):
    """Partition-parallel native capture: N replication slots, one
    Spark input partition each, decoded and parsed ON EXECUTORS — the
    100x shape once one slot's decode rate is the ceiling (a slot is
    serial BY PROTOCOL: one walsender decodes in commit order; the
    scale lever is slots-in-parallel, per database or per disjoint
    publication, exactly the reference relay's shard-per-set layout
    `[recalled: SURVEY.md §1.1 replication sets]`).

    Option ``shards`` = JSON array of ``{"slot": ..., "publication":
    ..., "database": ...}`` (database optional, defaults to the shared
    option).  Shard publications MUST be disjoint (per-database shards
    are by construction; same-database shards must publish disjoint
    table sets) — overlapping publications would deliver a change once
    per covering shard.

    Offset = ``{slot: {"lsn", "idx", "seq"}}`` per shard, the same
    (commit-lsn, idx) position algebra as the single-slot reader.

    DRIVER/EXECUTOR split per microbatch:

    - ``latestOffset`` (driver) probes each shard with ONE aggregated
      SQL pass (``backlog_stats_pgoutput``): count of backlog changes
      in commits after the shard's advance watermark + last commit
      lsn.  No change bytes cross the wire for the probe.
    - ``read`` (executor) peeks its shard's slot on its own wire
      connection, parses, slices to exactly (start, end], and verifies
      the slice length against the offsets' seq delta — a slot moved
      by an external consumer fails loudly, never ships a short batch.
    - ``commit`` (driver) persists each shard's ``(end.lsn, end.seq)``
      in a one-row-per-slot metadata table on the shard's database
      (``pgshovel_shard_meta`` — the Debezium-signal-table pattern:
      the slot can carry an lsn watermark but not the dense seq, and
      ``latestOffset`` on a RESTARTED driver must continue seq without
      Spark handing it the checkpoint), then advances the slot.
      Ordering matters: meta first, advance second — a crash between
      them leaves confirmed_flush behind the meta watermark, and the
      commit-lsn filter in the probe/slice skips the already-delivered
      replay either way.

    SEQ SEMANTICS: dense PER SHARD (publisher = slot name), continuing
    across batches and restarts — downstream (epoch, seq) MERGE sinks
    order per publisher, the same contract the landing path documents.

    Restrictions (enforced): plugin=pgoutput, protocol v1, no v2
    streaming (stream segments interleave across the probe's
    commit-grouping), origin='any' (a decoder-side origin drop would
    desync the probe's server-side count).
    """

    #: idx sentinel in an end offset: "every change of every commit at
    #: or below end.lsn" — batch ends are always commit boundaries.
    #: Far above any real within-transaction change index (a txn would
    #: need 2^62 changes to reach it), so the slice upper bound never
    #: truncates a commit.
    _IDX_END = 1 << 62

    def __init__(self, options):
        self.base_params = _params_from_options(options)
        self.default_db = self.base_params.database
        raw = json.loads(_opt(options, "shards") or "[]")
        if not raw:
            raise ValueError("option 'shards' must be a non-empty JSON array")
        from pgshovel_spark.sources.pglogical import _check_slot
        from pgshovel_spark.sources.pgoutput import _check_publication

        self.shards: dict[str, dict] = {}
        for s in raw:
            slot = s.get("slot")
            pub = s.get("publication")
            if not slot or not pub:
                raise ValueError(
                    f"each shard needs 'slot' and 'publication': {s!r}"
                )
            _check_slot(slot)  # both are spliced into slot-function /
            _check_publication(pub)  # meta SQL on driver and executors
            if slot in self.shards:
                raise ValueError(f"duplicate shard slot {slot!r}")
            self.shards[slot] = {
                "slot": slot,
                "publication": pub,
                "database": s.get("database", self.default_db),
            }
        if _opt(options, "plugin", "pgoutput") != "pgoutput":
            raise ValueError("sharded mode requires plugin=pgoutput")
        if int(_opt(options, "proto_version", "1")) != 1:
            raise ValueError("sharded mode requires proto_version=1")
        if _opt(options, "streaming", "false").lower() == "true":
            raise ValueError("sharded mode does not support v2 streaming")
        if _opt(options, "origin", "any") != "any":
            raise ValueError("sharded mode requires origin='any'")
        mc = _opt(options, "max_changes")
        self.max_changes = int(mc) if mc else None
        self.epoch = int(_opt(options, "epoch", "0"))
        self._meta_ready: set[str] = set()
        self._pub_checked: set[str] = set()
        #: per-slot probe short-circuit: (wal_flush_lsn at last probe,
        #: the end offset it produced).  When the server's WAL flush
        #: position has not moved since, no new commit can exist and
        #: the cached end is returned without the decode probe — an
        #: idle shard costs one catalog scalar per trigger instead of
        #: a full backlog decode.  Driver-memory only: a restarted
        #: driver just probes once more (correctness never depends on
        #: the cache).
        self._probe_cache: dict[str, tuple[str, dict]] = {}
        #: per-slot chunk plan for one giant-commit episode (see
        #: _plan_chunk): {"clsn", "crn", "total", "bounds"} — cleared
        #: when the episode's boundary commit advances the slot.
        #: Driver-memory only; a restart recomputes deterministically.
        self._giant_cache: dict[str, dict] = {}
        #: last successfully-committed end offset per slot — commit()
        #: skips shards whose end is unchanged (idle), preserving the
        #: probe short-circuit and the slot/meta write amplification
        #: when only SOME shards have traffic.
        self._committed: dict[str, dict] = {}
        #: last end offset REPORTED to Spark this run, per slot.  The
        #: engine fires source.commit(N) only when batch N+1 is
        #: CONSTRUCTED, so while a bounded backlog drains, the meta
        #: row lags the reported position by one batch — a probe that
        #: planned only from meta would re-report batch N's end
        #: forever and the stream would deadlock (no new offset -> no
        #: batch N+1 -> no commit(N)).  Driver-memory only: a fresh
        #: runner falls back to meta and Spark replays any
        #: uncommitted batch from its own offset log.
        self._reported: dict[str, dict] = {}

    def _params(self, shard: dict):
        import dataclasses

        return dataclasses.replace(
            self.base_params, database=shard["database"]
        )

    # -- watermark metadata (per-database, one row per slot) ----------------

    def _ensure_meta(self, c, db: str) -> None:
        from pgshovel_spark.sources.pgwire import PgError

        if db in self._meta_ready:
            return
        try:
            c.query(
                "create table if not exists pgshovel_shard_meta("
                "slot text primary key, base_lsn pg_lsn not null,"
                " base_seq bigint not null,"
                " part_idx bigint not null default 0,"
                " part_rn bigint not null default 0,"
                " part_clsn pg_lsn)"
            )
            # upgrade a pre-chunking (3-column) meta table in place —
            # ADD COLUMN IF NOT EXISTS is idempotent and a no-op on
            # fresh tables
            c.query(
                "alter table pgshovel_shard_meta"
                " add column if not exists part_idx bigint not null default 0,"
                " add column if not exists part_rn bigint not null default 0,"
                " add column if not exists part_clsn pg_lsn"
            )
        except PgError as e:
            # two same-database shards probing concurrently can race
            # even IF NOT EXISTS (pg_type/pg_class unique-violation,
            # duplicate-table, or duplicate-object on the implicit row
            # type — all three observed live) — the loser's table
            # exists, proceed
            if e.sqlstate not in ("23505", "42P07", "42710"):
                raise
        self._meta_ready.add(db)

    def _read_meta(self, c, db: str, slot: str) -> dict:
        """Per-slot watermark row: ``base_lsn``/``base_seq`` = the last
        fully-delivered commit boundary and the dense seq through it;
        ``part_idx``/``part_rn``/``part_clsn`` nonzero only MID-GIANT-
        COMMIT (intra-commit chunking): changes delivered into the
        open commit ``part_clsn``, the frame ordinal consumed, and
        ``base_seq`` then counts THROUGH the partial point."""
        self._ensure_meta(c, db)
        res = c.query(
            "select base_lsn::text, base_seq, part_idx, part_rn,"
            " part_clsn::text from pgshovel_shard_meta"
            f" where slot = '{slot}'"
        )[0]
        if not res.rows:
            return {"base_lsn": "0/0", "base_seq": 0, "part_idx": 0,
                    "part_rn": 0, "part_clsn": None}
        r = res.rows[0]
        return {"base_lsn": r[0], "base_seq": int(r[1]),
                "part_idx": int(r[2]), "part_rn": int(r[3]),
                "part_clsn": r[4]}

    # -- DataSourceStreamReader contract ------------------------------------

    def initialOffset(self) -> dict:
        """Seeded from the per-slot meta table, NOT hardcoded zeros: a
        FRESH checkpoint against a slot whose ``pgshovel_shard_meta``
        row persists (checkpoint dir deleted / re-created, slot kept)
        must resume from the persisted watermark — with a zero seed,
        ``read()``'s seq-reproduction check would fail every trigger
        (``_probe_shard`` computes ``end.seq = base_seq + n`` from the
        meta row) with no recovery path.  A slot with no meta row
        starts at the origin as before; a slot parked MID-GIANT-COMMIT
        resumes at its chunk position."""
        from pgshovel_spark.sources.pgoutput import lsn_to_int

        out = {}
        for slot in sorted(self.shards):
            shard = self.shards[slot]
            with self._params(shard).connect() as c:
                m = self._read_meta(c, shard["database"], slot)
            if m["part_idx"] > 0:
                out[slot] = {
                    "lsn": lsn_to_int(m["part_clsn"]),
                    "idx": m["part_idx"],
                    "seq": m["base_seq"],
                    "rn": m["part_rn"],
                }
            else:
                lsn_int = lsn_to_int(m["base_lsn"])
                out[slot] = {
                    "lsn": lsn_int,
                    "idx": self._IDX_END if lsn_int else 0,
                    "seq": m["base_seq"],
                }
        return out

    def _check_pub_excludes_meta(self, c, shard: dict) -> None:
        """A publication covering ``pgshovel_shard_meta`` would turn
        the reader's own watermark upserts into captured changes — a
        self-feeding loop of one-row batches.  Explicit FOR TABLE
        lists exclude it naturally; FOR ALL TABLES (or listing the
        meta table) is rejected loudly, once per shard."""
        pub = shard["publication"]
        if pub in self._pub_checked:
            return
        res = c.query(
            "select p.puballtables or exists("
            " select 1 from pg_publication_tables t"
            " where t.pubname = p.pubname"
            " and t.tablename = 'pgshovel_shard_meta')"
            f" from pg_publication p where p.pubname = '{pub}'"
        )[0]
        if res.rows and res.rows[0][0]:
            raise ValueError(
                f"shard publication {pub!r} covers pgshovel_shard_meta "
                "(FOR ALL TABLES?): the reader's own watermark writes "
                "would re-enter the stream as changes — scope the "
                "publication to an explicit table list"
            )
        self._pub_checked.add(pub)

    def _probe_shard(self, slot: str) -> dict:
        """One shard's end offset (the latestOffset body for ``slot``).

        Slot health rides the same watermark query: a slot the server
        INVALIDATED (``wal_status = 'lost'`` — WAL-retention overrun,
        the #1 operational failure of logical replication) raises the
        TYPED :class:`pgwire.SlotInvalidatedError` naming the slot,
        instead of a generic 55000 decode failure churning through
        the transient-retry loop; recovery is ``rebootstrap_slot`` /
        ``cdc rebootstrap``.

        Batch planning is BUDGET-BOUNDED when ``max_changes`` is set:
        the end covers the longest prefix of complete commits within
        the budget, and a FIRST commit alone exceeding it switches to
        intra-commit chunking (``_plan_chunk``) — a single 50M-row
        bulk transaction spans many bounded batches instead of
        arriving as one unbounded executor read."""
        from pgshovel_spark.sources.pglogical import advance
        from pgshovel_spark.sources.pgoutput import (
            backlog_plan_pgoutput,
            lsn_to_int,
            lsn_to_str,
        )
        from pgshovel_spark.sources.pgwire import SlotInvalidatedError

        shard = self.shards[slot]
        params = self._params(shard)
        with params.connect() as c:
            self._check_pub_excludes_meta(c, shard)
            res = c.query(
                "select pg_current_wal_flush_lsn()::text, s.wal_status,"
                " s.confirmed_flush_lsn::text from pg_replication_slots s"
                f" where s.slot_name = '{slot}'"
            )[0]
            if not res.rows:
                raise ValueError(
                    f"replication slot {slot!r} does not exist"
                )
            wal_end, status, confirmed = res.rows[0]
            if status == "lost":
                raise SlotInvalidatedError(slot)
            cached = self._probe_cache.get(slot)
            if cached is not None and cached[0] == wal_end:
                # no WAL flushed since the last IDLE probe: no new
                # commit can exist — skip the decode probe (only idle
                # ends are cached; a backlog mid-drain must keep
                # planning forward)
                return cached[1]
            m = self._read_meta(c, shard["database"], slot)
        if lsn_to_int(m["base_lsn"]) > lsn_to_int(confirmed or "0/0"):
            # boundary-commit crash window (meta written, advance
            # skipped): trim the slot to the recorded boundary so the
            # chunk probes' first-commit view matches the live backlog
            advance(params, slot, m["base_lsn"])
        # plan forward from the last end REPORTED this run, not from
        # meta: commit(N) only fires once batch N+1 is constructed,
        # so meta lags the reported frontier by one batch mid-drain
        eff = self._effective_start(slot, m)
        base_seq = eff["seq"]
        if "rn" in eff:
            # mid-giant-commit episode
            end = self._plan_chunk(slot, shard, params, eff, m)
        else:
            after_lsn = lsn_to_str(eff["lsn"]) if eff["lsn"] else "0/0"
            # window escalation: the peek's row bound counts frames
            # from confirmed_flush, and the delivered-but-not-yet-
            # advanced prefix (commit lags the reported frontier by
            # one batch) can consume the whole window — a FULL window
            # with no live commit means "look further", never "idle"
            bound = self.max_changes
            for _ in range(10):
                plan = backlog_plan_pgoutput(
                    params,
                    slot,
                    shard["publication"],
                    after_lsn=after_lsn,
                    limit=bound,
                    budget=self.max_changes,
                )
                if (
                    bound is None
                    or plan["first_clsn"] is not None
                    or plan["frames"] < bound
                ):
                    break
                bound *= 4
            if plan["last_clsn"] is None and plan["first_clsn"] is None:
                # idle: reproduce the PREVIOUS end offset exactly (an
                # idx/key mismatch here would make every trigger look
                # like a new offset, planning empty batches forever)
                end = dict(eff)
            elif plan["last_clsn"] is None:
                # the first live commit ALONE exceeds the budget:
                # intra-commit chunking
                end = self._plan_chunk(slot, shard, params, eff, m)
            else:
                end = {
                    "lsn": lsn_to_int(plan["last_clsn"]),
                    "idx": self._IDX_END,
                    "seq": base_seq + plan["n"],
                }
        self._reported[slot] = end
        if end == eff:
            # pure idle: safe to short-circuit future probes at this
            # WAL position
            self._probe_cache[slot] = (wal_end, end)
        else:
            self._probe_cache.pop(slot, None)
        return end

    def _effective_start(self, slot: str, m: dict) -> dict:
        """The position the next batch must continue from: the last
        end reported to Spark THIS RUN when one exists (>= the meta
        row by construction), else the meta row — boundary-shaped or,
        mid-giant-commit, the chunk position."""
        from pgshovel_spark.sources.pgoutput import lsn_to_int

        rep = self._reported.get(slot)
        if rep is not None and rep["seq"] >= m["base_seq"]:
            return rep
        if m["part_idx"] > 0:
            return {
                "lsn": lsn_to_int(m["part_clsn"]),
                "idx": m["part_idx"],
                "seq": m["base_seq"],
                "rn": m["part_rn"],
            }
        lsn_int = lsn_to_int(m["base_lsn"])
        return {
            "lsn": lsn_int,
            "idx": self._IDX_END if lsn_int else 0,
            "seq": m["base_seq"],
        }

    def _plan_chunk(
        self, slot: str, shard: dict, params, eff: dict, m: dict
    ) -> dict:
        """Next bounded batch INSIDE one giant committed transaction,
        continuing from ``eff`` (chunk-shaped mid-episode, boundary-
        shaped on entry).

        The expensive full-group probe (``giant_commit_plan`` — one
        server-side decode of the whole transaction, no bytes
        shipped) runs ONCE per episode and its budget-bucket bounds
        are cached on the driver; every later trigger plans the next
        chunk from the cached array with no decode at all.  A driver
        restart just recomputes the plan — the decode is
        deterministic from ``confirmed_flush_lsn`` because the slot
        is not advanced until the commit is fully delivered."""
        from pgshovel_spark.sources.pgoutput import (
            giant_commit_plan,
            lsn_to_int,
            lsn_to_str,
        )

        in_episode = "rn" in eff
        base_seq = eff["seq"]
        part_idx = eff["idx"] if in_episode else 0
        cache = self._giant_cache.get(slot)
        if (
            cache is not None
            and not in_episode
            and lsn_to_int(cache["clsn"]) <= eff["lsn"]
        ):
            # a PREVIOUS episode's plan whose boundary commit has not
            # landed yet (commit lags one batch): entering a new
            # episode must not replan the old one
            cache = None
        if cache is None:
            # entry: the boundary is eff itself (possibly not yet
            # committed); resume-after-restart: eff came from meta,
            # whose base_lsn is the episode's boundary
            after = (
                m["base_lsn"]
                if in_episode
                else (lsn_to_str(eff["lsn"]) if eff["lsn"] else "0/0")
            )
            cache = giant_commit_plan(
                params,
                slot,
                shard["publication"],
                after_lsn=after,
                budget=self.max_changes or (1 << 62),
            )
            if cache is None:
                raise RuntimeError(
                    f"shard {slot!r}: a partial commit is in progress "
                    f"(part_idx={part_idx}) but the backlog has no "
                    "live commit (slot advanced externally?)"
                )
            self._giant_cache[slot] = cache
        if in_episode and cache["clsn"] != lsn_to_str(eff["lsn"]):
            raise RuntimeError(
                f"shard {slot!r}: partial commit "
                f"{lsn_to_str(eff['lsn'])} in progress but backlog's "
                f"first commit is {cache['clsn']} (slot advanced "
                "externally? overlapping publications?)"
            )
        if part_idx >= cache["total"]:
            raise RuntimeError(
                f"shard {slot!r}: partial position {part_idx} is past "
                f"the commit's {cache['total']} changes (meta "
                "corrupted?)"
            )
        clsn_int = lsn_to_int(cache["clsn"])
        for bcum, brn in cache["bounds"]:
            if bcum > part_idx and bcum < cache["total"]:
                return {
                    "lsn": clsn_int,
                    "idx": bcum,
                    "seq": base_seq + (bcum - part_idx),
                    "rn": brn,
                }
        # final chunk: through the commit frame itself — a PURE
        # boundary end (idx sentinel, no 'rn'), bit-identical to the
        # idle reproduction the meta row yields after the episode
        # (an extra key would make the first post-episode trigger
        # look like a new offset and plan a phantom empty batch).
        # The executor still takes the chunk path (start carries
        # 'rn') and fetches to the end of the first transaction —
        # upto_nchanges=1 bounds the decode to exactly that.
        return {
            "lsn": clsn_int,
            "idx": self._IDX_END,
            "seq": base_seq + (cache["total"] - part_idx),
        }

    #: driver-side fan-out for per-shard probe/commit: each shard talks
    #: to its own database over its own connection, so the driver loop
    #: is embarrassingly parallel — serialized it would become the
    #: trigger-latency floor at high shard counts (64 shards x ~20 ms
    #: probe = 1.3 s/trigger serial, ~0.2 s pooled)
    _POOL = 8

    @staticmethod
    def _transient(e: BaseException) -> bool:
        return _is_transient(e)

    def _raise_typed_if_invalidated(self, shard: dict, e: BaseException):
        """55000 from a slot read may mean the server INVALIDATED the
        slot (WAL-retention overrun) — surface that TYPED.  Covers the
        executor read path too: a restarted query replays its pending
        batch via read() BEFORE the driver probe runs, so the typed
        error must come from wherever the 55000 first lands."""
        from pgshovel_spark.sources.pglogical import check_slot_live
        from pgshovel_spark.sources.pgwire import PgError

        if isinstance(e, PgError) and e.sqlstate == "55000":
            check_slot_live(self._params(shard), shard["slot"])

    def _probe_resilient(self, slot: str) -> dict:
        """A DOWN server (failover, crash-restart, network blip) must
        not kill the query: on a transient error the shard reports its
        last position (no progress this trigger) and the stream
        resumes when the server returns — the full-reader analog of
        the simple reader's walsender reconnect posture.  The fallback
        is the idle-probe cache or, mid-drain (where only idle ends
        are cached), the last end REPORTED this run.  Cold start with
        neither re-raises: there is no safe position to report."""
        try:
            return self._probe_shard(slot)
        except Exception as e:
            if self._transient(e):
                cached = self._probe_cache.get(slot)
                if cached is not None:
                    return cached[1]
                rep = self._reported.get(slot)
                if rep is not None:
                    return rep
            raise

    def latestOffset(self) -> dict:
        slots = sorted(self.shards)
        if len(slots) == 1:
            return {slots[0]: self._probe_resilient(slots[0])}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(self._POOL, len(slots))) as ex:
            ends = list(ex.map(self._probe_resilient, slots))
        return dict(zip(slots, ends))

    def partitions(self, start: dict, end: dict):
        parts = []
        for slot in sorted(self.shards):
            s = start.get(slot, {"lsn": 0, "idx": 0, "seq": 0})
            e = end.get(slot)
            if e is None or e["seq"] <= s["seq"]:
                continue  # shard idle this batch
            parts.append(_ShardPartition(self.shards[slot], s, e))
        return parts

    def read(self, partition):
        import time

        from pgshovel_spark.sources.pgoutput import (
            parse_pgoutput,
            raw_slot_changes_pgoutput,
        )

        shard, start, end = partition.shard, partition.start, partition.end
        if "rn" in end or "rn" in start:
            # intra-commit chunk of one giant transaction: windowed
            # frame fetch, not the whole-backlog peek + slice
            return self._read_chunk(shard, start, end)
        # outer loop: WINDOW ESCALATION — the bounded peek counts
        # frames from confirmed_flush, and the delivered-but-not-yet-
        # advanced prefix (Spark's commit lags the reported frontier
        # by one batch) can consume the window before this batch's
        # range appears; a short slice from a FULL window widens and
        # re-peeks.  inner loop: bounded retry on transient server
        # errors (local mode has task maxFailures=1, so a crash-
        # restarting server mid-peek would otherwise fail the query
        # for a blip WAL replay covers).
        bound = self.max_changes
        for _esc in range(10):
            for attempt in range(30):
                try:
                    raw = raw_slot_changes_pgoutput(
                        self._params(shard),
                        shard["slot"],
                        shard["publication"],
                        limit=bound,
                    )
                    break
                except Exception as e:
                    if attempt == 29 or not self._transient(e):
                        self._raise_typed_if_invalidated(shard, e)
                        raise
                    time.sleep(1.0)
            changes = parse_pgoutput(raw)
            upto = {"lsn": end["lsn"], "idx": end["idx"]}
            rows, got, _adv = _slice_changes(
                changes, start, upto, shard["slot"], self.epoch
            )
            if got["seq"] == end["seq"]:
                return iter(_changes_to_batches(rows))
            if bound is None or len(raw) < bound:
                break  # the slot really cannot reproduce the range
            bound *= 4
        raise RuntimeError(
            f"shard {shard['slot']!r} cannot reproduce offsets "
            f"{start} .. {end}: got seq {got['seq']}, expected "
            f"{end['seq']} (slot advanced externally? overlapping "
            "publications?)"
        )

    def _read_chunk(self, shard: dict, start: dict, end: dict):
        """Executor read of ONE chunk of a giant committed
        transaction: frames ``(start.rn, end.rn]`` plus the
        transaction's Begin/Relation context frames — only the
        chunk's bytes cross the wire, so executor memory is bounded
        by ``max_changes``, not the transaction.  A mid-commit window
        has no Commit frame, so a 1-byte SYNTHETIC one is appended
        before parsing (``parse_pgoutput`` reads nothing from the 'C'
        body — it only stamps the frame's lsn as ``commit_lsn``,
        which chunk rows never surface); the FINAL chunk's window
        ends exactly at the real Commit frame.  Exactness: the
        decoded change count must equal the offsets' seq delta —
        the same fail-loud contract as the boundary path."""
        import time

        from pgshovel_spark.sources.pgoutput import (
            chunk_slot_changes_pgoutput,
            lsn_to_int,
            lsn_to_str,
            parse_pgoutput,
        )

        start_rn = start.get("rn", 0)
        # the FINAL chunk's end is boundary-shaped (no 'rn'): fetch
        # everything past the last consumed ordinal — the decode bound
        # (start_rn + 1) stops the server right after the transaction
        # completes, so the open window is exactly "through the
        # commit"
        end_rn = end.get("rn", 1 << 62)
        bound = end.get("rn", start_rn + 1)
        expected = end["seq"] - start["seq"]
        for attempt in range(30):
            try:
                raw = chunk_slot_changes_pgoutput(
                    self._params(shard),
                    shard["slot"],
                    shard["publication"],
                    start_rn,
                    end_rn,
                    bound=bound,
                )
                break
            except Exception as e:
                if attempt == 29 or not self._transient(e):
                    self._raise_typed_if_invalidated(shard, e)
                    raise
                time.sleep(1.0)
        # ALWAYS close with a 1-byte synthetic Commit: a mid-commit
        # window has no real one, and after a real one it merely
        # closes an empty transaction (harmless).  The FIRST chunk's
        # window (start boundary-shaped, start_rn 0) can also carry
        # the delivered-but-not-yet-advanced PREFIX transactions that
        # precede the giant commit in the peek — their changes carry
        # their own (smaller) commit lsns and are dropped by the
        # keep-filter below; the giant's changes are stamped end.lsn
        # (synthetic) or the real commit frame's lsn (final chunk),
        # both == end['lsn'].
        raw.append((lsn_to_str(end["lsn"]), 0, b"C"))
        changes = [
            ch
            for ch in parse_pgoutput(raw)
            if lsn_to_int(ch["commit_lsn"]) == end["lsn"]
        ]
        if len(changes) != expected:
            raise RuntimeError(
                f"shard {shard['slot']!r} chunk ({start_rn}, {end_rn}] "
                f"decoded {len(changes)} changes, offsets expect "
                f"{expected} (slot advanced externally mid-commit?)"
            )
        rows = [
            _change_row(ch, start["seq"] + i, shard["slot"], self.epoch)
            for i, ch in enumerate(changes)
        ]
        return iter(_changes_to_batches(rows))

    def _commit_shard(self, slot: str, e: dict) -> None:
        from pgshovel_spark.sources.pglogical import advance
        from pgshovel_spark.sources.pgoutput import lsn_to_str

        shard = self.shards[slot]
        params = self._params(shard)
        lsn = lsn_to_str(e["lsn"])
        partial = e.get("idx", self._IDX_END) < self._IDX_END
        with params.connect() as c:
            self._ensure_meta(c, shard["database"])
            # meta BEFORE advance (see class docstring)
            if partial:
                # mid-giant-commit chunk: record the partial position,
                # do NOT advance the slot (an advance to the commit's
                # lsn would discard its undelivered tail) — base_lsn
                # stays at the last full boundary ('0/0' on insert:
                # a fresh slot whose very first commit is giant)
                c.query(
                    "insert into pgshovel_shard_meta values"
                    f" ('{slot}', '0/0', {int(e['seq'])},"
                    f" {int(e['idx'])}, {int(e['rn'])}, '{lsn}')"
                    " on conflict (slot) do update set"
                    " base_seq = excluded.base_seq,"
                    " part_idx = excluded.part_idx,"
                    " part_rn = excluded.part_rn,"
                    " part_clsn = excluded.part_clsn"
                    " where excluded.base_seq >="
                    " pgshovel_shard_meta.base_seq"
                )
            else:
                c.query(
                    "insert into pgshovel_shard_meta values"
                    f" ('{slot}', '{lsn}', {int(e['seq'])}, 0, 0, null)"
                    " on conflict (slot) do update set"
                    " base_lsn = excluded.base_lsn,"
                    " base_seq = excluded.base_seq,"
                    " part_idx = 0, part_rn = 0, part_clsn = null"
                    " where excluded.base_seq >="
                    " pgshovel_shard_meta.base_seq"
                )
        if not partial:
            advance(params, slot, lsn)
            gc = self._giant_cache.get(slot)
            if gc is not None and gc["clsn"] == lsn:
                # THIS episode's boundary: the plan is spent.  A pop
                # keyed on any boundary would discard a NEWER
                # episode's plan when the previous batch's lagging
                # commit lands after the new episode already began.
                self._giant_cache.pop(slot, None)
        # the advance moved confirmed_flush: a max_changes-bounded
        # probe would now see the NEXT chunk of an existing backlog
        # even with no new WAL, so the short-circuit must re-probe
        self._probe_cache.pop(slot, None)

    def _commit_resilient(self, slot: str, e: dict) -> None:
        """commit is garbage collection, not correctness: a skipped
        advance/meta write is fully absorbed (the probe counts from
        the stale base, the checkpointed start position dedupes, and
        the seq arithmetic cancels — end.seq == start.seq + new rows
        either way), so a transient server error here must not fail a
        batch Spark already committed.  The cache pop still runs: the
        next probe must not reuse a pre-advance end."""
        try:
            self._commit_shard(slot, e)
        except Exception as exc:
            self._probe_cache.pop(slot, None)
            if not self._transient(exc):
                raise

    def commit(self, end: dict) -> None:
        # idle shards are skipped outright: re-committing an unchanged
        # end would rewrite the meta row, re-advance the slot and pop
        # the probe cache — defeating the idle-shard short-circuit
        # whenever any ONE shard has traffic.  Driver-memory only: a
        # restarted driver redoes one redundant (idempotent) commit.
        todo = [
            (slot, end[slot])
            for slot in sorted(self.shards)
            if end.get(slot) and end[slot].get("lsn")
            and end[slot] != self._committed.get(slot)
        ]
        if len(todo) <= 1:
            for slot, e in todo:
                self._commit_resilient(slot, e)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(self._POOL, len(todo))) as ex:
                list(ex.map(lambda se: self._commit_resilient(*se), todo))
        for slot, e in todo:
            self._committed[slot] = e


# ---------------------------------------------------------------------------
# the BATCH half: MVCC snapshot bootstrap as a native partitioned read
# ---------------------------------------------------------------------------


class PgShovelBatchReader(DataSourceReader):
    """``spark.read.format("pgshovel").option("table", ...)`` — the
    consistent-bootstrap read as a first-class partitioned Spark scan
    (public ``DataSourceReader``): N key slices, each read by an
    EXECUTOR task on its own wire connection, all adopting ONE
    exported MVCC snapshot (``SET TRANSACTION SNAPSHOT``) so the
    union is a point-in-time image even under concurrent writers —
    the same discipline ``pglogical.snapshot_parallel_read`` proves
    via mapInPandas, promoted to the native scan API.

    Filter pushdown is REAL (``pushFilters``, Spark 4.1): supported
    conjuncts (comparisons / In / IsNull on plain columns) render
    into the remote WHERE clause next to the slice predicate, so the
    server prunes before a byte crosses the wire; unsupported filters
    are returned to Spark for post-scan evaluation.  Slices use the
    sign-safe ``mod(mod(key, N) + N, N)`` with NULL keys routed to
    slice 0 (pglogical's union-is-the-whole-table construction).

    Rows hand off as column-built Arrow RecordBatches; numeric decodes
    follow the bootstrap contract (numeric -> double, lossy by
    declaration).  Keep the exporting transaction open for the scan's
    whole duration (run the action inside ``exported_snapshot``).
    """

    def __init__(self, options, schema):
        self.params = _params_from_options(options)
        self.table = _check_ident(_opt(options, "table") or "")
        self.key_col = _check_ident(_opt(options, "partition_col") or "")
        self.n_parts = int(_opt(options, "num_partitions", "8"))
        if self.n_parts < 1:
            raise ValueError(f"num_partitions must be >= 1, got {self.n_parts}")
        self.snapshot = _opt(options, "snapshot")
        if self.snapshot is not None and not all(
            ch in "0123456789ABCDEFabcdef-" for ch in self.snapshot
        ):
            raise ValueError(f"invalid snapshot id: {self.snapshot!r}")
        self.schema = schema
        self.columns = [_check_ident(f.name) for f in schema.fields]
        self.pushed_sql: list[str] = []  # rendered conjuncts (telemetry/tests)

    # -- pushdown ------------------------------------------------------------

    def _render_filter(self, f) -> str | None:
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None  # nested column: not pushable
        col = attr[0]
        if col not in self.columns:
            return None
        _check_ident(col)
        if isinstance(f, IsNull):
            return f"{col} is null"
        if isinstance(f, IsNotNull):
            return f"{col} is not null"
        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for cls, op in ops.items():
            if isinstance(f, cls):
                if op != "=" and isinstance(f.value, str):
                    # string ORDERING is collation-dependent server-side
                    # (en_US says 'Banana' > 'apple'; Spark's binary
                    # UTF-8 order disagrees) — never push string range
                    # comparisons; equality stays pushable (default
                    # Postgres collations are deterministic).
                    return None
                return f"{col} {op} {_pg_literal(f.value)}"
        if isinstance(f, In):
            if not f.value:  # In's value is the tuple of candidates
                return None
            vals = ", ".join(_pg_literal(v) for v in f.value)
            return f"{col} in ({vals})"
        return None

    def pushFilters(self, filters):
        for f in filters:
            try:
                sql = self._render_filter(f)
            except ValueError:
                # unrepresentable literal (NaN/inf, composite): the
                # filter must stay with Spark, never crash the scan
                sql = None
            if sql is None:
                yield f  # Spark evaluates it post-scan
            else:
                self.pushed_sql.append(sql)

    # -- scan ----------------------------------------------------------------

    def partitions(self):
        from pyspark.sql.datasource import InputPartition

        return [InputPartition(i) for i in range(self.n_parts)]

    #: rows per FETCH / Arrow batch: bounds executor memory to one
    #: chunk per task instead of the whole key slice (a 20 GB table's
    #: slice would otherwise sit twice in Python memory)
    _FETCH = 65536

    def read(self, partition):
        import decimal

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import DoubleType

        i = partition.value
        pred = (
            f"mod(mod({self.key_col}, {self.n_parts}) + {self.n_parts},"
            f" {self.n_parts}) = {i}"
        )
        if i == 0:
            pred = f"({pred} or {self.key_col} is null)"
        where = " and ".join([pred] + self.pushed_sql)
        col_sql = ", ".join(self.columns)
        sch = to_arrow_schema(self.schema)
        is_double = [
            isinstance(f.dataType, DoubleType) for f in self.schema.fields
        ]

        def to_batch(chunk):
            cols = list(zip(*chunk))
            arrays = []
            for j in range(len(self.columns)):
                vals = list(cols[j])
                if is_double[j]:
                    # bootstrap contract: numeric -> double (the wire
                    # client decodes numeric to Decimal)
                    vals = [
                        float(v) if isinstance(v, decimal.Decimal) else v
                        for v in vals
                    ]
                arrays.append(pa.array(vals, type=sch.field(j).type))
            return pa.RecordBatch.from_arrays(arrays, schema=sch)

        # server-side cursor: stream the slice in _FETCH-row chunks so
        # peak task memory is one chunk, not the whole slice
        with self.params.connect() as c:
            c.query("begin isolation level repeatable read")
            if self.snapshot is not None:
                c.query(f"set transaction snapshot '{self.snapshot}'")
            c.query(
                f"declare pgshovel_scan cursor for"
                f" select {col_sql} from {self.table} where {where}"
            )
            while True:
                res = c.query(f"fetch {self._FETCH} from pgshovel_scan")[0]
                if res.rows:
                    yield to_batch(res.rows)
                if len(res.rows) < self._FETCH:
                    break
            c.query("commit")


def infer_pg_schema(options) -> StructType:
    """LIMIT-0 probe -> StructType via the bootstrap OID map (same
    lossy-numeric contract as snapshot_parallel_read); honors an
    optional ``columns`` option for projection at the source."""
    from pyspark.sql import types as T

    from pgshovel_spark.sources.pglogical import _OID_SPARK
    from pgshovel_spark.sources.pgwire import PgParams

    params = _params_from_options(options)
    table = _check_ident(_opt(options, "table") or "")
    keep = _opt(options, "columns")
    keep_list = (
        [_check_ident(c.strip()) for c in keep.split(",")] if keep else None
    )
    with params.connect() as c:
        probe = c.query(f"select * from {table} limit 0")[0]
    if keep_list:
        unknown = [c_ for c_ in keep_list if c_ not in probe.columns]
        if unknown:
            raise ValueError(
                f"columns not in {table}: {unknown} (have {probe.columns})"
            )
    fields = [
        T.StructField(name, _OID_SPARK.get(oid, T.StringType()))
        for name, oid in zip(probe.columns, probe.type_oids)
        if keep_list is None or name in keep_list
    ]
    if keep_list:
        order = {n: i for i, n in enumerate(keep_list)}
        fields.sort(key=lambda f: order.get(f.name, 1 << 30))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# the WRITE half: two-phase-commit upsert sink into live Postgres
# ---------------------------------------------------------------------------


_IDENT_RE = None  # compiled lazily (module import stays light)


def _check_ident(name: str) -> str:
    global _IDENT_RE
    if _IDENT_RE is None:
        import re

        _IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*\Z")
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


def _pg_literal(v) -> str:
    import datetime as _dt

    from pgshovel_spark.sources.cdc import sql_literal

    if v is None:
        return "NULL"
    if isinstance(v, bytes):
        # bytea hex-format input; the string literal coerces to bytea
        return f"'\\x{v.hex()}'"
    if isinstance(v, (dict, list, tuple, set)):
        # loud failure beats silently inserting a Python repr
        raise ValueError(
            f"unsupported composite value for a pgshovel SQL literal: {type(v).__name__}"
        )
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        # sql_literal renders TIMESTAMP '...' (without time zone):
        # Postgres IGNORES an offset inside that typed literal and
        # re-interprets the value in the server TimeZone — a silent
        # instant shift on non-UTC servers.  tz-aware values must be
        # TIMESTAMPTZ literals.
        return f"TIMESTAMPTZ '{v.isoformat(sep=' ')}'"
    return sql_literal(v, style="ansi")


class _UpsertCommit(WriterCommitMessage):
    """Per-task commit message: the prepared-transaction gid (None
    under two_phase=false) and the task's upserted row count."""

    def __init__(self, gid=None, rows=0):
        self.gid = gid
        self.rows = rows


class PgUpsertStreamWriter(DataSourceStreamWriter):
    """``writeStream.format("pgshovel")`` — the consumer half of the
    relay as a native Spark sink: keyed upsert into a live Postgres
    table with a lexicographic (order_cols) newer-guard, committed via
    REAL two-phase commit.

    Protocol per micro-batch: each executor task reduces its partition
    to latest-per-key, applies one ``INSERT ... ON CONFLICT (keys) DO
    UPDATE ... WHERE ROW(tgt.order) < ROW(excluded.order)`` statement
    chain on its own wire connection, then ``PREPARE TRANSACTION``
    with a task-unique gid and reports the gid as its commit message.
    The driver's ``commit()`` issues ``COMMIT PREPARED`` for every
    gid; ``abort()`` rolls them back — a failed batch leaves NO
    partial state visible (needs ``max_prepared_transactions > 0``;
    set ``two_phase=false`` to fall back to per-task autocommit,
    where the newer-guard alone provides replay idempotence).

    Python worker calls per micro-batch: Spark runs this class in
    reused Python workers three times per batch — the writer-planning
    call (``write_into_data_source``), one ``write()`` task per
    partition, and the driver-side ``commit()``
    (``python_streaming_sink_runner``).  Each call first runs
    ``importlib.invalidate_caches()``, which on CPython < 3.13 used to
    re-read pyspark.zip's central directory once per imported pyspark
    sub-package: ~0.1-0.25 s per call.  ``pgshovel_spark.zipimport_cache``
    (installed by importing the package) skips unchanged archives, so
    that setup costs ~0.2 ms per call once a worker has imported
    pgshovel_spark; what remains per call is the worker round trip
    and the work itself.  On a 4-core machine, ``addBatch`` p50 for
    ~1,000-row batches went from ~450 ms to ~180 ms.

    Crash recovery (LIFECYCLE NOTE: Spark instantiates this writer
    fresh for every task AND every commit/abort call, so NOTHING here
    may sweep unconditionally — an init-time sweep would roll back
    the in-flight batch's own prepares, found the hard way): gids
    embed the micro-batch id (``pgshovel2pc_<table>_b<batch>_<rnd>``,
    batch id from the task's ``streaming.sql.batchId`` local
    property).  A replayed batch whose earlier attempt left orphaned
    prepared transactions hits their row locks, times out
    (``lock_timeout``), sweeps prefix-gids from batches <= its own
    (excluding its own gid), and retries once; ``commit()``/
    ``abort()`` additionally sweep dead same-or-older-batch leftovers
    after settling the reported gids.  Replays are absorbed by the
    newer-guard (never strictly newer), the same exactly-once
    contract as JdbcMergeSink (streaming/sinks.py).

    Operating requirements, documented not guessed:
    - key-disjoint partitions: two concurrent tasks upserting the SAME
      key would deadlock through 2PC (task B waits on task A's
      prepared row lock; A's COMMIT PREPARED waits on B finishing) —
      ``.repartition(n, *keys)`` upstream, which also co-locates each
      key's latest-per-key reduce;
    - no speculative execution in two_phase mode (a duplicate running
      attempt is indistinguishable from a dead one to the sweep);
    - single writer per table (the reference relay's consumer-group-
      of-one discipline `[recalled: consumer groups]`): the sweep
      would roll back ANOTHER live writer's prepared batches;
    - non-NULL order_cols (the lexicographic guard and the in-task
      reduce both compare them).
    """

    def __init__(self, options, schema):
        self.params = _params_from_options(options)
        self.table = _check_ident(_opt(options, "table") or "")
        keys = _opt(options, "keys")
        if not keys:
            raise ValueError("pgshovel sink requires option 'keys'")
        self.keys = [_check_ident(k.strip()) for k in keys.split(",")]
        order = _opt(options, "order_cols")
        if not order:
            raise ValueError("pgshovel sink requires option 'order_cols'")
        self.order_cols = [_check_ident(c.strip()) for c in order.split(",")]
        self.columns = [_check_ident(f.name) for f in schema.fields]
        for c in self.keys + self.order_cols:
            if c not in self.columns:
                raise ValueError(f"column {c!r} not in input schema {self.columns}")
        if not [c for c in self.columns if c not in self.keys]:
            # an all-key schema would render 'DO UPDATE SET' with an
            # empty assignment list — reject at init, not per batch
            raise ValueError(
                "pgshovel sink needs at least one non-key column "
                f"(all of {self.columns} are keys)"
            )
        self.two_phase = _opt(options, "two_phase", "true").lower() == "true"
        self.rows_per_stmt = int(_opt(options, "rows_per_stmt", "1000"))
        self.lock_timeout_ms = int(_opt(options, "lock_timeout_ms", "10000"))
        self._gid_prefix = f"pgshovel2pc_{self.table}_"
        # FAULT-INJECTION SEAM (tests only): when ``chaos_file`` names
        # an existing file, the first process to consume (delete) it
        # raises at ``chaos_point`` — 'task_after_prepare' dies between
        # PREPARE TRANSACTION and reporting the commit message (an
        # executor crash mid-protocol), 'driver_before_commit' dies
        # between task success and the first COMMIT PREPARED (a driver
        # crash mid-protocol).  Consuming the file makes each armed
        # fault fire exactly once, across task retries and restarts.
        self.chaos_point = _opt(options, "chaos_point")
        if self.chaos_point not in (None, "task_after_prepare",
                                    "driver_before_commit"):
            raise ValueError(f"unknown chaos_point {self.chaos_point!r}")
        self.chaos_file = _opt(options, "chaos_file")

    def _consume_chaos(self) -> bool:
        import os

        if not self.chaos_file:
            return False
        try:
            os.remove(self.chaos_file)
            return True
        except FileNotFoundError:
            return False

    def _gid_parts(self, gid: str) -> tuple[int, str]:
        """(batch id, run token) embedded in one of OUR gids;
        (-1, "") if the gid is foreign-shaped."""
        tail = gid[len(self._gid_prefix):]
        bits = tail.split("_")
        if len(bits) != 3 or not bits[0].startswith("b") or not bits[1].startswith("r"):
            return -1, ""
        num = bits[0][1:]
        return (int(num) if num.isdigit() else -1), bits[1][1:]

    def _sweep(
        self,
        c,
        upto_batch: int,
        exclude_gids: set,
        my_run: str | None,
    ) -> int:
        """Roll back dead prefix-gids: any batch < ``upto_batch``, plus
        batch == ``upto_batch`` gids from OTHER runs (``my_run`` set:
        a prior crashed run's orphans of the very batch now being
        replayed — same-run siblings are live and protected) or not in
        ``exclude_gids`` (``my_run`` None: driver commit/abort, where
        the reported message gids are the live set).  Tolerates
        concurrent-sweep races."""
        from pgshovel_spark.sources.pgwire import PgError

        # current_database() filter: pg_prepared_xacts is CLUSTER-wide
        # and ROLLBACK PREPARED on another database's gid errors with
        # a non-42704 state — a same-named table in a sibling database
        # must never crash this sink's commits.  LIKE keeps only the
        # constant prefix ('_' is a LIKE wildcard, so the table-bearing
        # prefix is re-checked EXACTLY in Python: table 'a_b' must not
        # sweep table 'axb').
        res = c.query(
            "select gid from pg_prepared_xacts"
            " where database = current_database()"
            " and gid like 'pgshovel2pc%'"
        )[0]
        n = 0
        for (gid,) in res.rows:
            if not gid.startswith(self._gid_prefix):
                continue
            if gid in exclude_gids:
                continue
            batch, run = self._gid_parts(gid)
            if batch < 0 or batch > upto_batch:
                continue
            if batch == upto_batch and my_run is not None and run == my_run:
                continue  # live sibling of this very attempt set
            try:
                c.query(f"rollback prepared '{gid}'")
                n += 1
            except PgError as e:
                if e.sqlstate != "42704":  # another sweeper won the race
                    raise
        return n

    # -- executor side -------------------------------------------------------

    def _upsert_sql(self, rows: list) -> str:
        cols = ", ".join(self.columns)
        vals = ",\n".join(
            "(" + ", ".join(_pg_literal(v) for v in row) + ")" for row in rows
        )
        conflict = ", ".join(self.keys)
        non_keys = [c for c in self.columns if c not in self.keys]
        sets = ", ".join(f"{c} = excluded.{c}" for c in non_keys)
        tgt_ord = ", ".join(f"tgt.{c}" for c in self.order_cols)
        exc_ord = ", ".join(f"excluded.{c}" for c in self.order_cols)
        return (
            f"insert into {self.table} as tgt ({cols}) values\n{vals}\n"
            f"on conflict ({conflict}) do update set {sets}\n"
            f"where row({tgt_ord}) < row({exc_ord})"
        )

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        from pgshovel_spark.sources.pgwire import PgError

        ki = [self.columns.index(k) for k in self.keys]
        oi = [self.columns.index(c) for c in self.order_cols]
        latest: dict = {}
        for row in iterator:
            t = tuple(row)
            k = tuple(t[i] for i in ki)
            prev = latest.get(k)
            if prev is None or tuple(t[i] for i in oi) > tuple(
                prev[i] for i in oi
            ):
                latest[k] = t
        if not latest:
            return _UpsertCommit()
        rows = list(latest.values())
        tc = TaskContext.get()
        batch_prop = tc.getLocalProperty("streaming.sql.batchId") if tc else None
        batch_id = int(batch_prop) if batch_prop else 0
        if not self.two_phase:
            with self.params.connect() as c:
                for lo in range(0, len(rows), self.rows_per_stmt):
                    c.query(self._upsert_sql(rows[lo : lo + self.rows_per_stmt]))
            return _UpsertCommit(None, len(rows))
        # run token: StreamExecution sets the job group to the query's
        # runId, which CHANGES on restart — it distinguishes a prior
        # crashed run's same-batch orphans from this run's live
        # sibling prepares (both look identical in pg_prepared_xacts)
        run_prop = tc.getLocalProperty("spark.jobGroup.id") if tc else None
        run_tok = "".join(ch for ch in (run_prop or "norun") if ch.isalnum())[:12]
        gid = f"{self._gid_prefix}b{batch_id}_r{run_tok}_{uuid.uuid4().hex[:12]}"
        with self.params.connect() as c:
            # A replayed batch (or a retried task) can hit the row
            # locks of an earlier attempt's orphaned prepared txn:
            # bounded wait, sweep, one retry.
            c.query(f"set lock_timeout = '{self.lock_timeout_ms}ms'")
            for attempt in (1, 2):
                try:
                    c.query("begin")
                    for lo in range(0, len(rows), self.rows_per_stmt):
                        c.query(
                            self._upsert_sql(rows[lo : lo + self.rows_per_stmt])
                        )
                    c.query(f"prepare transaction '{gid}'")
                    break
                except PgError as e:
                    c.query("rollback")
                    if e.sqlstate != "55P03" or attempt == 2:
                        raise
                    self._sweep(c, batch_id, {gid}, my_run=run_tok)
        if self.chaos_point == "task_after_prepare" and self._consume_chaos():
            # the prepared transaction is now an orphan this process
            # will never settle — exactly what a task crash leaves
            raise RuntimeError(
                "chaos: task killed between PREPARE TRANSACTION and "
                "reporting its commit message"
            )
        return _UpsertCommit(gid, len(rows))

    # -- driver side ---------------------------------------------------------

    def commit(self, messages, batchId) -> None:
        gids = [m.gid for m in messages if m is not None and getattr(m, "gid", None)]
        if not gids and not self.two_phase:
            return
        if (gids and self.chaos_point == "driver_before_commit"
                and self._consume_chaos()):
            # every task prepared and reported; the driver dies before
            # the first COMMIT PREPARED — the whole batch is orphaned
            raise RuntimeError(
                "chaos: driver killed between task success and "
                "COMMIT PREPARED"
            )
        with self.params.connect() as c:
            for gid in gids:
                c.query(f"commit prepared '{gid}'")
            if self.two_phase:
                # dead attempts of this or earlier batches (reported
                # gids are committed above, so anything left under the
                # prefix at <= batchId is garbage)
                self._sweep(c, batchId, set(gids), my_run=None)

    def abort(self, messages, batchId) -> None:
        from pgshovel_spark.sources.pgwire import PgError

        if not self.two_phase:
            return
        gids = [m.gid for m in messages if m is not None and getattr(m, "gid", None)]
        with self.params.connect() as c:
            for gid in gids:
                try:
                    c.query(f"rollback prepared '{gid}'")
                except PgError as e:
                    if e.sqlstate != "42704":  # already gone
                        raise
            self._sweep(c, batchId, set(gids), my_run=None)


class PgUpsertBatchWriter(DataSourceWriter):
    """``df.write.format("pgshovel")`` — the SAME keyed-upsert 2PC
    protocol as the streaming sink, as a batch write: each task
    latest-per-key-reduces its partition, upserts with the
    lexicographic newer-guard, PREPAREs; the driver COMMIT PREPAREDs
    all gids or rolls every one back — all-or-nothing batch loads.
    This is what a re-bootstrap reconcile uses (``rebootstrap_slot``):
    a snapshot scan of the source table upserted into the live target
    at a bumped epoch, idempotent under re-runs by the newer-guard.
    Batch jobs carry no ``streaming.sql.batchId``; gids embed batch 0,
    so the single-writer-per-table discipline applies across batch
    AND streaming writers alike."""

    def __init__(self, options, schema):
        self._w = PgUpsertStreamWriter(options, schema)

    def write(self, iterator):
        return self._w.write(iterator)

    def commit(self, messages) -> None:
        self._w.commit(messages, 0)

    def abort(self, messages) -> None:
        self._w.abort(messages, 0)


def rebootstrap_slot(
    spark,
    params,
    slot: str,
    tables: list[tuple[str, str]],
    plugin: str = "pgoutput",
    to_table: str | None = None,
    keys: list[str] | None = None,
    columns: list[str] | None = None,
    epoch: int = 1,
    num_partitions: int = 8,
    force: bool = False,
) -> dict:
    """Self-healing recovery from an INVALIDATED replication slot
    (``wal_status = 'lost'`` — the WAL-retention overrun
    :class:`pgwire.SlotInvalidatedError` signals): rebuild the shard
    by composing the atomic bootstrap->stream handoff.

    1. Refuse unless the slot is actually lost (``force=True``
       overrides — a deliberate rebuild of a healthy shard).
    2. Drop the dead slot and its ``pgshovel_shard_meta`` watermark
       row (a fresh checkpoint must start the stream at zero for
       THIS shard; healthy sibling shards keep their rows and resume
       from them via ``initialOffset``).
    3. Recreate the slot UNDER THE SAME NAME with an exported MVCC
       snapshot (``CREATE_REPLICATION_SLOT ... (SNAPSHOT 'export')``)
       — the one-step consistent point.
    4. Scan every ``(table, partition_col)`` at exactly that snapshot
       through the native batch source and, when ``to_table`` is
       given, upsert the image into the live target through the 2PC
       batch writer at the BUMPED ``epoch`` with ``seq = -1`` —
       (epoch, seq) ordering makes bootstrap rows beat every pre-
       outage stream row, and the new stream (started at this epoch,
       seq from 0) beats the bootstrap: changes lost in the WAL gap
       are healed by the re-read, updates racing the scan by
       idempotent replay.

    Restart the stream afterwards with a FRESH checkpoint and
    ``epoch`` = the bumped value; the slot streams exactly the
    transactions committed after the returned consistent point —
    zero gap, zero overlap (the same contract as
    ``exported_slot_snapshot``, which this wraps).

    Deletes that happened during the outage are NOT healed (the
    upsert sink carries no tombstones) — the reference relay's
    documented re-bootstrap semantics: a full-refresh consumer
    truncates first; a keyed mirror accepts lingering rows until the
    next delete of the same key.
    """
    from pyspark.sql import functions as F

    from pgshovel_spark.sources.pglogical import (
        drop_slot,
        slot_wal_status,
    )
    from pgshovel_spark.sources.pgoutput import exported_slot_snapshot

    status = slot_wal_status(params, slot)
    if status is not None:
        if status != "lost" and not force:
            raise ValueError(
                f"slot {slot!r} has wal_status={status!r}, not 'lost' "
                "— rebootstrap would destroy a live shard (pass "
                "force=True for a deliberate rebuild)"
            )
        drop_slot(params, slot)
    from pgshovel_spark.sources.pgwire import PgError

    with params.connect() as c:
        try:
            c.query(
                f"delete from pgshovel_shard_meta where slot = '{slot}'"
            )
        except PgError as e:
            if e.sqlstate != "42P01":  # no meta table: nothing to clear
                raise

    def _conn(w):
        for k in ("sockdir", "host", "password", "sslmode", "sslrootcert"):
            v = getattr(params, k, "")
            if v:
                w = w.option(k, v)
        return (
            w.option("database", params.database)
            .option("user", params.user)
            .option("port", str(params.port))
        )

    counts: dict[str, int] = {}
    with exported_slot_snapshot(params, slot, plugin=plugin) as (
        cpoint,
        snap,
    ):
        for table, pcol in tables:
            df = (
                _conn(spark.read.format("pgshovel"))
                .option("table", table)
                .option("partition_col", pcol)
                .option("num_partitions", str(num_partitions))
                .option("snapshot", snap)
                .load()
            )
            if columns:
                df = df.select(*columns)
            if to_table is None:
                counts[table] = df.count()
                continue
            if not keys:
                raise ValueError("to_table needs keys")
            out = (
                df.withColumn("epoch", F.lit(epoch).cast("long"))
                # seq -1: the restarted stream's FIRST change is seq 0
                # at this same epoch and must beat the bootstrap image
                # of its key (a tie would keep whichever landed first)
                .withColumn("seq", F.lit(-1).cast("long"))
                # key-disjoint partitions: the 2PC writer's documented
                # operating requirement
                .repartition(max(2, num_partitions), *keys)
            )
            (
                _conn(out.write.format("pgshovel"))
                .option("table", to_table)
                .option("keys", ",".join(keys))
                .option("order_cols", "epoch,seq")
                .mode("append")
                .save()
            )
            counts[table] = out.count()
    return {
        "slot": slot,
        "consistent_point": cpoint,
        "rows": counts,
        "epoch": epoch,
    }


class PgShovelDataSource(DataSource):
    """``format("pgshovel")`` — live Postgres logical-decoding CDC as
    a first-class Spark streaming source emitting CHANGE_SCHEMA rows.

    Options: sockdir OR host (one required; host + password = the TCP
    SCRAM transport), slot (required), database, user,
    port, plugin (pgoutput | test_decoding), publication (required
    for pgoutput), proto_version, streaming ('true' enables protocol
    v2 in-progress transaction streaming), origin ('none' drops
    foreign-origin transactions whole — loop prevention; pgoutput
    only), publisher, epoch, key_cols (JSON table->pk-list map,
    test_decoding only), max_changes (bound raw rows per peek),
    shards (JSON array of {slot, publication, database} — switches to
    the partition-parallel sharded reader; see
    PgShovelShardedStreamReader).
    """

    @classmethod
    def name(cls) -> str:
        return "pgshovel"

    def schema(self) -> StructType:
        # batch mode (option 'table' set): infer from a live LIMIT-0
        # probe; streaming mode: the CHANGE_SCHEMA envelope
        if _opt(self.options, "table"):
            return infer_pg_schema(self.options)
        from pgshovel_spark.streaming.change_stream import CHANGE_SCHEMA

        return CHANGE_SCHEMA

    def reader(self, schema: StructType):
        return PgShovelBatchReader(self.options, schema)

    def streamReader(self, schema: StructType):
        # full (partition-parallel) reader only in sharded mode; the
        # base-class NotImplementedError otherwise makes the runner
        # fall back to simpleStreamReader (pyspark's _streamReader)
        if _opt(self.options, "shards"):
            return PgShovelShardedStreamReader(self.options)
        return super().streamReader(schema)

    def simpleStreamReader(self, schema: StructType):
        return PgShovelSimpleStreamReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return PgUpsertStreamWriter(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        # batch upsert: same 2PC keyed-upsert protocol, one job =
        # one all-or-nothing load (see PgUpsertBatchWriter)
        return PgUpsertBatchWriter(self.options, schema)


def register_pgshovel(spark) -> None:
    """Register the source on a session: idempotent, no jars.

    Also enables Python DataSource filter pushdown: Spark 4.1 HARD-
    FAILS any read from a source that implements ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false (the default)
    — without this, the batch source would be unusable on sessions
    built outside :func:`pgshovel_spark.session.get_session`.  The
    conf is runtime-settable SQL conf; if a cluster pins it
    unchangeable, the set is best-effort and the read surfaces
    Spark's own DATA_SOURCE_PUSHDOWN_DISABLED error."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # best-effort; see docstring
    spark.dataSource.register(PgShovelDataSource)

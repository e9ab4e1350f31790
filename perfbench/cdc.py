"""The ``cdc_relay`` workload: the ``python -m pgshovel_spark cdc
stream`` pipeline against a scratch Postgres.

``readStream.format("pgshovel")`` (single-slot reader, SQL transport,
pgoutput) -> flatten the after-image -> drop DELETEs -> repartition by
key -> ``writeStream.format("pgshovel")`` two-phase-commit upsert into
a second table, with the CLI's default 1 s trigger.

Set-up ends with a warm-up: the query's first run relays the hot key
range, then stops.  Then two phases, both measured from the
benchmark's own connections:

- drain: ``BACKLOG_ROWS`` changes (seeded inserts of new keys and
  updates of hot keys) are committed while the relay is down; it
  restarts from its checkpoint, and ``total_s`` is the time from the
  restart until the sink equals the source;
- steady: one open-loop writer thread on one connection commits
  ``TXN_ROWS``-row transactions on a fixed schedule of ``RATE`` rows/s
  for ``--seconds``, each row stamped with its transaction's due time.
  Freshness is, per sink row written in this phase, the sink
  transaction's commit timestamp (``track_commit_timestamp`` on this
  scratch cluster) minus the due time.

The writer sends no DELETEs: the upsert relay drops them by design.
After the final drain every key of the source is compared with the
sink; each differing key counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from pathlib import Path

from tracing import EventLog, Spans, percentile

BACKLOG_ROWS = 60_000
HOT_KEYS = 10_000
TXN_ROWS = 200
RATE = 1_000  # rows/s offered in the steady phase, ~40% of drain capacity
SLOT, PEEK_SLOT, PUB = "pb_slot", "pb_peek", "pb_pub"

_SINK_STATE = "select count(*)::bigint, coalesce(sum(n), 0)::bigint from {}"
_MISMATCHED = (
    "select count(*)::bigint from pb_src s full join pb_dst d on s.id = d.id"
    " where s.id is null or d.id is null or s.v is distinct from d.v"
    " or s.n is distinct from d.n or s.due_us is distinct from d.due_us"
)


class _Writer:
    """Seeded transaction source: inserts of new keys or updates of a
    window of the hot key range, each row stamped with ``due_us``."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.next_id = HOT_KEYS
        self.i = 0

    def txn(self, c, due_us: int) -> None:
        self.i += 1
        if self.rng.random() < 0.5:
            lo, self.next_id = self.next_id, self.next_id + TXN_ROWS
            c.query(
                f"insert into pb_src select g, 'i{self.i}_' || g, 0, {due_us}"
                f" from generate_series({lo}, {lo + TXN_ROWS - 1}) g"
            )
        else:
            lo = self.rng.randrange(0, HOT_KEYS - TXN_ROWS)
            c.query(
                f"update pb_src set v = 'u{self.i}_' || id, n = n + 1,"
                f" due_us = {due_us} where id >= {lo} and id < {lo + TXN_ROWS}"
            )


def _state(c, table: str) -> tuple[int, int]:
    row = c.query(_SINK_STATE.format(table))[0].rows[0]
    return int(row[0]), int(row[1])


def _wait_equal(params, timeout: float) -> float:
    """Seconds until the sink's (count, sum(n)) equals the source's."""
    t0 = time.time()
    with params.connect() as c:
        want = _state(c, "pb_src")
        while _state(c, "pb_dst") != want:
            if time.time() - t0 > timeout:
                raise TimeoutError(f"sink did not catch up within {timeout}s")
            time.sleep(0.02)
    return time.time() - t0


def run(cfg: dict) -> dict:
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgwire import ScratchPostgres

    spans = Spans()
    trace = cfg["trace"]
    server = ScratchPostgres(root=cfg["pg_root"])
    try:
        with spans.span("pg.start"):
            with open(os.path.join(server.data, "postgresql.auto.conf"), "a") as f:
                f.write("track_commit_timestamp = on\n")
            params = server.start()
            with params.connect() as c:
                c.query("create table pb_src(id bigint primary key, v text,"
                        " n bigint, due_us bigint)")
                c.query("create table pb_dst(id bigint primary key, v text,"
                        " n bigint, due_us bigint, epoch bigint, seq bigint)")
            po.create_publication(params, PUB, ["pb_src"])
            po.create_slot_pgoutput(params, SLOT)
        return _relay(cfg, spans, params)
    finally:
        server.stop()


def _relay(cfg: dict, spans: Spans, params) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from pgshovel_spark.session import get_session
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    trace = cfg["trace"]
    writer = _Writer(cfg["seed"])
    backlog = cfg.get("backlog_rows", BACKLOG_ROWS)
    with params.connect() as c:
        c.query("insert into pb_src select g, 'h' || g, 0, 0"
                f" from generate_series(0, {HOT_KEYS - 1}) g")

    with spans.span("session.start"):
        spark = get_session("perfbench-cdc")
        register_pgshovel(spark)
    progress: list[dict] = []
    if trace:
        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"run": str(p.runId), "rows": p.numInputRows,
                                 "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    cols = [F.col("after")[c].cast(t).alias(c)
            for c, t in (("id", "long"), ("v", "string"), ("n", "long"), ("due_us", "long"))]
    src = spark.readStream.format("pgshovel").option("sockdir", params.sockdir)
    flat = (
        src.option("slot", SLOT).option("publication", PUB).load()
        .filter(F.col("op") != "DELETE")
        .select(*cols, F.col("epoch"), F.col("seq"))
        .dropna(subset=["id"])
        .repartition(2, "id")
    )

    def start():
        return (
            flat.writeStream.format("pgshovel").option("sockdir", params.sockdir)
            .option("table", "pb_dst").option("keys", "id")
            .option("order_cols", "epoch,seq")
            .option("checkpointLocation", str(Path(cfg["run_dir"]) / "ck"))
            .trigger(processingTime="1000 milliseconds")
            .start()
        )

    # warm-up, part of set-up: the query's first run relays the hot keys.
    # Its batch must be committed before the stop, or the restart replays it.
    with spans.span("warmup"):
        q = start()
        try:
            _wait_equal(params, 120.0)
            q.processAllAvailable()
        finally:
            q.stop()
    setup_s = time.time() - cfg["spawn"]

    # the backlog is committed while the relay is down; the timed drain
    # starts with the relay's restart from its checkpoint.  The traced run
    # replays the same backlog from a second, peek-only slot.
    if trace:
        po.create_slot_pgoutput(params, PEEK_SLOT)
    with params.connect() as c:
        for _ in range(backlog // TXN_ROWS):
            writer.txn(c, 0)
    t_query = time.time()
    q = start()
    run_id = str(q.runId)

    lag = {"max": 0}
    stop_poll = threading.Event()

    def poll_lag() -> None:
        with params.connect() as c:
            while not stop_poll.wait(1.0):
                v = c.one("select (pg_current_wal_lsn() - confirmed_flush_lsn)::bigint"
                          f" from pg_replication_slots where slot_name = '{SLOT}'")
                lag["max"] = max(lag["max"], int(v))

    poller = threading.Thread(target=poll_lag, daemon=True)
    if trace:
        poller.start()
    try:
        with spans.span("drain"):
            drain_s = _wait_equal(params, 150.0)

        late_ms: list[float] = []
        t_steady = time.time()
        with spans.span("steady"), params.connect() as c:
            i = 0
            while True:
                due = t_steady + i * TXN_ROWS / RATE
                if due - t_steady >= cfg["seconds"]:
                    break
                now = time.time()
                if now < due:
                    time.sleep(due - now)
                late_ms.append(max(0.0, time.time() - due) * 1000)
                writer.txn(c, int(due * 1e6))
                i += 1
        with spans.span("final_drain"):
            final_drain_s = _wait_equal(params, 60.0)
    finally:
        stop_poll.set()
        q.stop()
    if trace:
        poller.join(timeout=5)

    with params.connect() as c:
        fresh = c.query(
            "select ((extract(epoch from pg_xact_commit_timestamp(xmin)) * 1e6)::bigint"
            f" - due_us)::bigint from pb_dst where due_us >= {int(t_steady * 1e6)}"
        )[0].rows
        keys = int(c.one("select count(*)::bigint from pb_src"))
        mismatched = int(c.one(_MISMATCHED))
    fresh_ms = sorted(int(r[0]) / 1000.0 for r in fresh)

    out = {
        "attempted": keys,
        "failed": mismatched,
        "metrics": {
            "setup_s": setup_s,
            "total_s": drain_s,
            "latency_p50_ms": percentile(fresh_ms, 0.50),
            "latency_tail_ms": percentile(fresh_ms, 0.95),
        },
        "detail": {
            "backlog_rows": backlog, "drain_rows_per_s": backlog / drain_s,
            "offered_rows_per_s": RATE, "steady_s": cfg["seconds"],
            "freshness_samples": len(fresh_ms), "tail_pct": 95,
            "freshness_p99_ms": percentile(fresh_ms, 0.99),
            "final_drain_s": final_drain_s, "keys": keys,
        },
    }
    t_end = time.time()
    spark.stop()

    if trace:
        spans.dump(Path(cfg["run_dir"]) / "spans.jsonl")
        with open(Path(cfg["run_dir"]) / "batches.jsonl", "w") as f:
            f.writelines(json.dumps(p) + "\n" for p in progress)
        out["layers"] = _layers(cfg, params, run_id, [p for p in progress if p["run"] == run_id],
                                t_query, t_end, backlog)
        out["layers"]["session.start_s"] = next(
            x["end"] - x["start"] for x in spans.items if x["name"] == "session.start")
        out["layers"]["pg.slot_lag_bytes_max"] = lag["max"]
        out["layers"]["loadgen.late_ms_max"] = max(late_ms)
    return out


def _layers(cfg, params, run_id: str, progress, t0, t1, backlog: int) -> dict:
    """Per-layer numbers of the timed query run (Structured Streaming
    tags its jobs with the run id as job group)."""
    from pgshovel_spark.sources import pgoutput as po

    ev = EventLog(next(Path(cfg["run_dir"], "eventlog").glob("*")))
    layers = ev.summary({run_id}, [(t0, t1)])
    busy = [p for p in progress if p["rows"] > 0]
    for key, name in (("latestOffset", "latest_offset_ms"), ("addBatch", "add_batch_ms"),
                      ("commitOffsets", "commit_offsets_ms")):
        xs = [p["ms"].get(key, 0) for p in busy]
        layers[f"pgdatasource.{name}.p50"] = statistics.median(xs)
        layers[f"pgdatasource.{name}.max"] = max(xs)
    layers["pgdatasource.batches"] = len(busy)
    layers["pgdatasource.rows_per_batch"] = statistics.median(p["rows"] for p in busy)

    t = time.time()
    raw = po.raw_slot_changes_pgoutput(params, PEEK_SLOT, PUB, limit=backlog)
    layers["pgwire.peek_s"] = time.time() - t
    t = time.time()
    changes = po.parse_pgoutput(raw)
    layers["pgoutput.parse_s"] = time.time() - t
    layers["pgoutput.decode_rows_per_s"] = len(changes) / layers["pgoutput.parse_s"]
    return layers

"""``live_cdc``: a live ``cdcsqlite`` table, preloaded with seeded rows, is
written by an open-loop writer thread at a fixed rate for the whole run
while the benchmark drives ``SqliteCdcStreamReader`` from
``initialOffset()`` through the snapshot chunks into the log tail.

Each non-empty batch is appended through ``ExactlyOnceAppendSink`` as the
append-only op-column log, and upserted into a key mirror
(``PartitionedStateTable``, the path ``materialize_changelog`` wraps).
The reader is driven directly: under ``readStream`` it runs in a separate
Python worker, where its time cannot be measured from outside.

Why this workload: it is the only one where source reads and source
writes contend (chunk watermarks, backfill merge, shouldEmit, log tail),
and it uses the state table with small plain-key upserts and appends and
no recompute.  Once the writer stops and the log drains, the mirror must
equal the table and the sink must hold every epoch exactly once.
"""

from __future__ import annotations

import os
import random
import sqlite3
import statistics
import threading
import time

from pyspark.sql import types as T

from common import SizedInputs, describe, latency
from ivm_epochs import StateProbe, statetable_metrics, wrap_statetable

PHYSICAL = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("note", T.StringType()),
    ]
)
SIZES = {
    # preloaded rows, reader options, writer changes / s.  The full size
    # reads with the engine's default chunk size (8096) and per-read event
    # limit (10000); the tiny one shrinks both so its few rows still make
    # several chunks and several snapshot reads.  RECORDS.md gives the
    # basis of each value.
    "full": dict(rows=12_000, options={}, rate=400.0),
    "tiny": dict(rows=300, options={"chunksize": "100", "maxeventsperbatch": "200"},
                 rate=20.0),
}
POLL_S = 0.02


def make_inputs(run_dir: str, seed: int, tiny: bool) -> SizedInputs:
    return SizedInputs(seed, SIZES["tiny" if tiny else "full"])


class Writer(threading.Thread):
    """Open-loop writer: change ``i`` is due at ``start + i / rate``
    whatever the reader is doing.  Stamps each change's commit time by its
    log id (the only writer, one statement per transaction)."""

    def __init__(self, db: str, seed: int, rate: float, live_ids: list[int]) -> None:
        super().__init__(daemon=True)
        self.db, self.rate = db, rate
        self.rng = random.Random(seed * 7919 + 1)
        self.live = list(live_ids)
        self.next_id = max(live_ids, default=0) + 1
        self.stop_evt = threading.Event()
        self.committed: dict[int, float] = {}
        self.lateness: list[float] = []
        self.commit_s: list[float] = []
        self.error: BaseException | None = None

    def _change(self, conn, i: int) -> None:
        r = self.rng.random()
        if r < 0.4 or len(self.live) < 10:
            k = self.next_id
            self.next_id += 1
            conn.execute(
                "INSERT INTO items VALUES (?, ?, ?, ?)",
                (k, f"g{self.rng.randrange(16)}", self.rng.randrange(1000), f"w{i}"),
            )
            self.live.append(k)
        elif r < 0.8:
            k = self.live[self.rng.randrange(len(self.live))]
            conn.execute(
                "UPDATE items SET qty = ?, grp = ?, note = ? WHERE id = ?",
                (self.rng.randrange(1000), f"g{self.rng.randrange(16)}", f"w{i}", k),
            )
        else:
            j = self.rng.randrange(len(self.live))
            self.live[j], self.live[-1] = self.live[-1], self.live[j]
            conn.execute("DELETE FROM items WHERE id = ?", (self.live.pop(),))

    def run(self) -> None:
        conn = sqlite3.connect(self.db, timeout=30.0, isolation_level=None)
        try:
            conn.execute("PRAGMA busy_timeout=30000")
            start = time.time()
            i = 0
            while not self.stop_evt.is_set():
                due = start + i / self.rate
                now = time.time()
                if due > now:
                    self.stop_evt.wait(due - now)
                    continue
                t0 = time.time()
                conn.execute("BEGIN IMMEDIATE")
                self._change(conn, i)
                log_id = conn.execute("SELECT MAX(id) FROM _cdc_log").fetchone()[0]
                conn.execute("COMMIT")
                t1 = time.time()
                self.committed[log_id] = t1
                self.lateness.append(t0 - due)
                self.commit_s.append(t1 - t0)
                i += 1
        except Exception as e:  # reported by the benchmark as a failure
            self.error = e
        finally:
            conn.close()


class State:
    def __init__(self, inputs: SizedInputs, db: str, ids: list[int], sink, mirror) -> None:
        self.inputs, self.db, self.ids = inputs, db, ids
        self.sink, self.mirror = sink, mirror


def prepare(spark, ws: str, inputs: SizedInputs, tracer) -> State:
    """A fresh sqlite database preloaded with the seeded rows and change
    capture installed, and empty sink and mirror directories."""
    import shutil

    from flink_cdc_log_connectors_spark.sources.sqlite_dialect import install_cdc
    from flink_cdc_log_connectors_spark.streaming.sink import ExactlyOnceAppendSink
    from flink_cdc_log_connectors_spark.streaming.statetable import (
        PartitionedStateTable,
    )

    shutil.rmtree(ws, ignore_errors=True)
    os.makedirs(ws)
    rng = random.Random(inputs.seed)
    n = inputs.size["rows"]
    # sparse keys: the even chunk splitter still sees an integer range
    ids = sorted(rng.sample(range(1, n * 3), n))
    db = os.path.join(ws, "live.db")
    conn = sqlite3.connect(db)
    try:
        conn.execute(
            "CREATE TABLE items (id INTEGER PRIMARY KEY, grp TEXT, qty INTEGER, note TEXT)"
        )
        conn.executemany(
            "INSERT INTO items VALUES (?, ?, ?, ?)",
            [(k, f"g{rng.randrange(16)}", rng.randrange(1000), f"r{k}") for k in ids],
        )
        conn.commit()
    finally:
        conn.close()
    install_cdc(db, "items")
    sink = ExactlyOnceAppendSink(os.path.join(ws, "sink"))
    mirror = PartitionedStateTable(os.path.join(ws, "mirror"), ["id"], n_buckets=8)
    return State(inputs, db, ids, sink, mirror)


def warm(spark, st: State, tracer) -> None:
    """One epoch of the preloaded rows into a throwaway sink and mirror, so
    the first measured epoch does not pay the session's first writes."""
    from flink_cdc_log_connectors_spark.sources.sqlite_dialect import (
        SqliteCdcStreamReader,
    )
    from flink_cdc_log_connectors_spark.streaming.sink import ExactlyOnceAppendSink
    from flink_cdc_log_connectors_spark.streaming.statetable import (
        PartitionedStateTable,
    )

    ws = os.path.dirname(st.db)
    reader = SqliteCdcStreamReader({"path": st.db, "table": "items"})
    rows, _ = reader.read(reader.initialOffset())
    scratch = State(
        st.inputs, st.db, st.ids,
        ExactlyOnceAppendSink(os.path.join(ws, "warm_sink")),
        PartitionedStateTable(os.path.join(ws, "warm_mirror"), ["id"], n_buckets=8),
    )
    _apply(spark, scratch, list(rows), 0)


def teardown(spark, st: State) -> None:
    from flink_cdc_log_connectors_spark.sources.sqlite_dialect import close_pool

    close_pool(st.db)


def install_trace(tracer) -> None:
    from flink_cdc_log_connectors_spark.sources import sqlite_dialect
    from flink_cdc_log_connectors_spark.streaming.sink import ExactlyOnceAppendSink
    from flink_cdc_log_connectors_spark.streaming.statetable import (
        PartitionedStateTable,
    )

    def _chunk_done(tr, args, kwargs, out):
        _envs, low, high = out
        tr.count("sources.snapshot_chunks")
        tr.count("sources.snapshot_backfill_events", high - low)

    def _log_done(tr, args, kwargs, out):
        if tr.current() != "sources.snapshot_chunk":
            tr.count("sources.log_events_read", len(out))

    tracer.wrap(sqlite_dialect, "read_chunk_merged", "sources.snapshot_chunk", _chunk_done)
    tracer.wrap(sqlite_dialect, "read_log_between", "sources.log_read", _log_done)
    tracer.wrap(ExactlyOnceAppendSink, "process_batch", "sink.commit")
    wrap_statetable(tracer, PartitionedStateTable)


def _apply(spark, st: State, rows: list, epoch: int) -> None:
    """One epoch: the batch into the op-column log and the key mirror."""
    from flink_cdc_log_connectors_spark.sources import debezium
    from flink_cdc_log_connectors_spark.sources.datasource import RAW_SCHEMA

    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    st.sink.process_batch(
        debezium.parse_debezium(raw, PHYSICAL, include_source=False), epoch
    )
    st.mirror.upsert(
        debezium.parse_change_rows(raw, PHYSICAL),
        order_by=debezium.CHANGELOG_ORDER_BY,
        epoch_id=epoch,
    )


def measure(spark, st: State, tracer, clock) -> dict:
    from flink_cdc_log_connectors_spark.sources.sqlite_dialect import (
        SqliteCdcStreamReader,
        log_position,
    )

    size = st.inputs.size
    reader = SqliteCdcStreamReader({"path": st.db, "table": "items", **size["options"]})
    writer = Writer(st.db, st.inputs.seed, size["rate"], st.ids)
    #: per epoch: (commit time, log ids applied)
    epochs: list[tuple[float, list[int]]] = []
    appended = 0
    snap_rows = 0
    snap_s = None
    attempted = failed = 0
    notes: list[str] = []
    ops: list[str] = []
    emitted = 0

    polls = 0
    probe = StateProbe([st.mirror]) if tracer.enabled else None

    def step(cur: dict) -> tuple[dict, bool]:
        """One poll of the reader; a non-empty batch is one epoch."""
        nonlocal appended, snap_rows, snap_s, attempted, emitted, polls
        op = f"b{len(epochs)}.{polls}"
        polls += 1
        tracer.begin_op(op)
        try:
            rows, nxt = reader.read(cur)
            rows = list(rows)
            if rows and tracer.enabled and nxt.get("phase") == "log":
                backlog = log_position(st.db) - int(nxt["log_id"])
                tracer.count("sources.log_backlog_events", backlog)
            if rows:
                _apply(spark, st, rows, len(epochs))
        finally:
            tracer.end_op()
        if not rows:
            return nxt, False
        t = time.time()
        attempted += 1
        ops.append(op)
        if probe is not None:
            probe.record(tracer)
        log_ids = [r[2] for r in rows if '"op":"r"' not in r[0]]
        emitted += len(log_ids)
        snap_rows += len(rows) - len(log_ids)
        epochs.append((t, log_ids))
        # the op-column log holds both images of an update
        appended += len(rows) + sum('"op":"u"' in r[0] for r in rows)
        if snap_s is None and nxt.get("phase") == "log":
            snap_s = t - t_snap
        return nxt, True

    writer.start()
    t_snap = time.time()
    cur = reader.initialOffset()
    try:
        while not clock.expired():
            cur, got = step(cur)
            if not got:
                time.sleep(POLL_S)
        timed = clock.elapsed()
        writer.stop_evt.set()
        writer.join(60)
        # drain: read until the reader is idle at the final log position
        while True:
            cur, got = step(cur)
            if not got and cur.get("phase") == "log" and int(cur["log_id"]) >= log_position(st.db):
                break
    except Exception as e:  # a failed read or commit ends the run
        attempted += 1
        failed += 1
        notes.append(f"epoch {len(epochs)}: {type(e).__name__}: {e}")
        writer.stop_evt.set()
        writer.join(60)
        timed = clock.elapsed()
    if writer.error is not None:
        failed += 1
        notes.append(f"writer: {type(writer.error).__name__}: {writer.error}")
    attempted += 1
    if not failed and _check(spark, st, len(epochs), appended, notes):
        failed += 1

    # freshness of the log tail: changes committed after the snapshot
    # phase ended (earlier ones wait for the snapshot; ``secondary_s``)
    snap_end = t_snap + (snap_s or timed)
    fresh = [
        t - writer.committed[i]
        for t, ids in epochs
        for i in ids
        if writer.committed.get(i, 0.0) > snap_end
    ]
    t_end = clock.t0 + timed
    applied = sum(len(ids) for t, ids in epochs if t <= t_end)
    snap_s = snap_s or timed
    return {
        "e2e": {
            **(latency(fresh) if fresh else {"op_latency_s": 0.0, "op_tail_s": 0.0}),
            "rate_per_s": applied / timed,
            "secondary_s": snap_s,
        },
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "ops": ops,
        "emitted": emitted,
        "writer": writer,
        "lines": [
            f"# epochs={len(epochs)} log_events={sum(len(i) for _, i in epochs)} "
            f"snapshot_rows={snap_rows} snapshot_s={snap_s:.3f} "
            f"snapshot_rows_per_s={snap_rows / snap_s:.1f} "
            f"writer_changes={len(writer.commit_s)} timed={timed:.2f}s",
            describe("freshness_s", fresh) if fresh else "# no freshness samples",
            describe("gen.lateness_s", writer.lateness) if writer.lateness else "# writer idle",
        ],
    }


def capacity(spark, st: State, backlog: int = 30_000, writer_s: float = 3.0) -> list[str]:
    """Closed-loop capacities, the basis of the open-loop writer rate:
    change events per second the reader, sink and mirror apply when a
    backlog is always waiting (the snapshot is read first, with no
    writer), and commits per second the writer makes, one statement per
    transaction, when it never waits."""
    from flink_cdc_log_connectors_spark.sources.sqlite_dialect import (
        SqliteCdcStreamReader,
        log_position,
    )

    reader = SqliteCdcStreamReader(
        {"path": st.db, "table": "items", **st.inputs.size["options"]}
    )
    cur = reader.initialOffset()
    epoch = 0
    while cur.get("phase") != "log":
        rows, cur = reader.read(cur)
        _apply(spark, st, list(rows), epoch)
        epoch += 1
    # the backlog, in large transactions: its write cost is not measured
    gen = Writer(st.db, st.inputs.seed, 0.0, st.ids)
    conn = sqlite3.connect(st.db, isolation_level=None)
    try:
        for i in range(0, backlog, 1000):
            conn.execute("BEGIN IMMEDIATE")
            for j in range(i, min(backlog, i + 1000)):
                gen._change(conn, j)
            conn.execute("COMMIT")
    finally:
        conn.close()
    end = log_position(st.db)
    t0 = time.perf_counter()
    applied = drained = 0
    while int(cur["log_id"]) < end:
        rows, cur = reader.read(cur)
        rows = list(rows)
        if rows:
            _apply(spark, st, rows, epoch)
            epoch += 1
            applied += len(rows)
        drained += 1
    drain_s = time.perf_counter() - t0
    # the writer on its own, never waiting for its due time
    w = Writer(st.db, st.inputs.seed + 1, float("inf"), gen.live)
    w.start()
    time.sleep(writer_s)
    w.stop_evt.set()
    w.join()
    return [
        f"# reader+sink+mirror capacity: {applied / drain_s:.1f} events/s "
        f"({applied} events, {drained} reads, {drain_s:.2f}s)",
        f"# writer capacity: {len(w.commit_s) / writer_s:.1f} commits/s "
        f"(commit p50 {statistics.median(w.commit_s) * 1e3:.2f} ms)",
    ]


def _check(spark, st: State, n_epochs: int, appended: int, notes: list[str]) -> bool:
    """Mirror equals the table; the sink holds each epoch exactly once and
    every appended row.  Appends to ``notes`` and returns True on mismatch."""
    conn = sqlite3.connect(st.db)
    try:
        want = {tuple(r) for r in conn.execute("SELECT id, grp, qty, note FROM items")}
    finally:
        conn.close()
    df = st.mirror.read(spark)
    got_rows = [] if df is None else df.select("id", "grp", "qty", "note").collect()
    got = {tuple(r) for r in got_rows}
    bad = False
    if got != want or len(got_rows) != len(got):
        notes.append(
            f"mirror: {len(got - want)} rows not in the table, {len(want - got)} missing"
        )
        bad = True
    if st.sink.committed_epochs() != list(range(n_epochs)):
        notes.append("sink: committed epochs are not each epoch exactly once")
        bad = True
    log = st.sink.read_committed(spark)
    if (0 if log is None else log.count()) != appended:
        notes.append("sink: row count differs from the rows appended")
        bad = True
    return bad


def layer_metrics(tracer, res: dict, event_log: str) -> dict:
    ops = res["ops"]
    w = res["writer"]
    # every measured poll, empty ones too; not the set-up and warm-up reads
    polls = [op for op in tracer.windows if op.startswith("b")]

    def total(name: str) -> float:
        return sum(tracer.counts.get((op, name), 0.0) for op in polls)

    chunks = total("sources.snapshot_chunks")
    read_events = total("sources.log_events_read")
    reads_with_events = [
        op for op in polls if tracer.counts.get((op, "sources.log_events_read"))
    ]
    out = {
        # per chunk, over the whole snapshot phase
        "sources.snapshot_chunk_s": (
            tracer.span_seconds("sources.snapshot_chunk", polls) * len(polls) / chunks
            if chunks else 0.0
        ),
        "sources.snapshot_chunks": chunks,
        "sources.snapshot_backfill_events": total("sources.snapshot_backfill_events"),
        # log-tail reads only, not the backfill reads inside a chunk
        "sources.log_read_s": tracer.span_seconds(
            "sources.log_read", ops, outside="sources.snapshot_chunk"
        ),
        "sources.log_events_per_read": tracer.counter(
            "sources.log_events_read", reads_with_events
        ),
        "sources.log_backlog_events": tracer.counter("sources.log_backlog_events", ops),
        "sources.emit_ratio": res["emitted"] / read_events if read_events else 0.0,
        "source_db.commit_s": statistics.fmean(w.commit_s) if w.commit_s else 0.0,
        "gen.lateness_s": statistics.fmean(w.lateness) if w.lateness else 0.0,
        "sink.commit_s": tracer.span_seconds("sink.commit", ops),
        "trace.unattributed_s": tracer.unattributed(ops),
    }
    out.update(statetable_metrics(tracer, ops))
    out.update(tracer.spark_split(event_log, ops))
    return out

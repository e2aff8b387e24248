"""``cdcsqlite`` — a LIVE database dialect for the CDC-log source.

The file dialect (``sources/datasource.py``) proves the snapshot→log
protocol on scripted Debezium-JSON files; this module proves it against a
REAL mutating database.  SQLite is the only DB engine in this build
environment, and it has no client-accessible replication log, so the
dialect uses trigger-based change capture — the standard CDC pattern for
engines without logical decoding: AFTER INSERT/UPDATE/DELETE triggers
append before/after images to an ``_cdc_log`` table whose AUTOINCREMENT
rowid is a total order over commits, i.e. the log offset (≈ binlog
file/pos collapsed to one integer).

What this exercises FOR REAL that the file dialect cannot:

- **P5 low/high watermark capture** (DBLog, reference
  ``SnapshotSplitReader.java:118-137``): ``log_position`` reads
  ``MAX(id)`` from the live log immediately before and after each chunk
  scan, while writers commit concurrently.
- **P6 backfill + chunk merge** (``RecordUtils.upsertBinlog:138-192``):
  events that landed inside a chunk's (low, high] window are merged onto
  the chunk's rows (last-write-wins, delete-drops-key) so each emitted
  chunk is point-in-time consistent at its own high watermark
  (``chunking.merge_backfill``).
- **L2 shouldEmit** (``BinlogSplitReader.shouldEmit:194-240``): during
  the log phase an event is emitted only if its offset is past the high
  watermark of the chunk covering its key — otherwise the chunk merge
  already delivered its effect (``chunking.should_emit``).

Consistency argument (same as DBLog's): a chunk SELECT runs atomically at
some commit point T with low ≤ T ≤ high.  Replaying log events in
(low, high] over the chunk rows with last-write-wins is idempotent for
events ≤ T (they rewrite the value already seen) and applies events > T,
so the merged chunk equals the table's chunk range exactly at `high`.
Log-phase events for that range are then filtered to id > high — no loss,
no double-emit.

Failover: mid-snapshot restart re-reads the current chunk against the
LIVE database at a *new* watermark pair — not byte-identical to the lost
read, but consistent at the new high watermark, which is the reference's
recovery contract too (snapshot splits re-run on failover,
``MySqlSourceReader`` re-assigns unacked splits).  Log-phase replay is
deterministic: the audit log is append-only.

The reader ships raw Debezium-style envelope JSON in the same
``RAW_SCHEMA`` as the file dialect, so the entire downstream stack —
``parse_debezium``, ``apply_changelog``, ``PartitionedStateTable`` sinks —
is shared, unchanged.  That is the point of the S3 dialect SPI.
"""

from __future__ import annotations

import json
import sqlite3
from collections.abc import Mapping, Sequence
from typing import Any, Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql import types as T

from .chunking import (
    DEFAULT_CHUNK_SIZE,
    ChunkRange,
    log_envelope,
    merge_backfill,
    should_emit,
    split_even_or_whole,
)
from .datasource import RAW_SCHEMA

LOG_TABLE = "_cdc_log"


#: C9 connection pooling — one cached connection per (db file, thread):
#: the stream reader calls log_position + read_log_between + chunk scans
#: every microbatch, and a fresh connection per call re-parses the schema
#: and re-opens the WAL each time (the reference pools for the same
#: reason, ``JdbcConnectionPools``).  Keying by thread keeps sqlite's
#: same-thread contract without locks; executor processes each get their
#: own pool (module state is per-process).  WAL readers start a fresh
#: read transaction per statement in autocommit mode, so a pooled
#: connection always sees the latest commits.
_POOL: dict[tuple[str, int], sqlite3.Connection] = {}

#: per-db connection settings (§2.8 option parity with
#: MySqlSourceOptions.java:32-215: connect.timeout, connect.max-retries,
#: connection.pool.size) — registered once by the reader/partition via
#: ``configure_connection`` so every internal ``_connect`` call site
#: honors them without threading parameters through the module.
DEFAULT_CONNECT_TIMEOUT_S = 30.0
DEFAULT_CONNECT_MAX_RETRIES = 3
DEFAULT_POOL_SIZE = 20
_CONN_CONF: dict[str, tuple[float, int, int]] = {}


def configure_connection(
    db_path: str,
    timeout_s: float = DEFAULT_CONNECT_TIMEOUT_S,
    max_retries: int = DEFAULT_CONNECT_MAX_RETRIES,
    pool_size: int = DEFAULT_POOL_SIZE,
) -> None:
    _CONN_CONF[db_path] = (float(timeout_s), int(max_retries), int(pool_size))


class _PooledConn:
    """Thin proxy whose ``close()`` returns the connection to the pool."""

    __slots__ = ("_conn",)

    def __init__(self, conn: sqlite3.Connection) -> None:
        self._conn = conn

    def __getattr__(self, name: str):
        return getattr(self._conn, name)

    def close(self) -> None:  # pooled: real close happens in close_pool()
        pass


def _evict_dead(db_path: str, pool_size: int) -> None:
    """connection.pool.size: when the per-db pool exceeds the cap, close
    connections owned by threads that no longer exist (live threads keep
    theirs — sqlite connections are same-thread-only, so closing a live
    thread's connection under it would be worse than a soft cap)."""
    import threading

    mine = [k for k in _POOL if k[0] == db_path]
    if len(mine) <= pool_size:
        return
    alive = {t.ident for t in threading.enumerate()}
    for k in mine:
        if k[1] not in alive:
            try:
                _POOL.pop(k).close()
            except Exception:
                pass
            if sum(1 for k2 in _POOL if k2[0] == db_path) <= pool_size:
                return


def _connect(db_path: str) -> _PooledConn:
    """Pooled reader connection: WAL lets the capture read while writers
    commit (the whole point of a lock-free snapshot); busy_timeout rides
    out write-lock contention instead of erroring.  connect.timeout /
    connect.max-retries / connection.pool.size honored per db via
    ``configure_connection``."""
    import threading

    timeout_s, max_retries, pool_size = _CONN_CONF.get(
        db_path,
        (DEFAULT_CONNECT_TIMEOUT_S, DEFAULT_CONNECT_MAX_RETRIES, DEFAULT_POOL_SIZE),
    )
    key = (db_path, threading.get_ident())
    conn = _POOL.get(key)
    if conn is None:
        last: Exception | None = None
        for _attempt in range(max(1, max_retries)):
            try:
                conn = sqlite3.connect(db_path, timeout=timeout_s)
                break
            except sqlite3.Error as e:  # pragma: no cover - env-dependent
                last = e
                conn = None
        if conn is None:
            raise last  # type: ignore[misc]
        conn.execute(f"PRAGMA busy_timeout={int(timeout_s * 1000)}")
        _POOL[key] = conn
    _evict_dead(db_path, pool_size)  # every call: hits must also shed dead conns
    return _PooledConn(conn)


def close_pool(db_path: str | None = None) -> int:
    """Really close pooled connections (all threads; one path or all)."""
    keys = [k for k in _POOL if db_path is None or k[0] == db_path]
    for k in keys:
        try:
            _POOL.pop(k).close()
        except Exception:
            pass
    return len(keys)


# ---------------------------------------------------------------------------
# capture installation (DDL — the moral equivalent of "enable binlog")
# ---------------------------------------------------------------------------

def _table_columns(conn: sqlite3.Connection, table: str) -> list[str]:
    return [r[1] for r in conn.execute(f"PRAGMA table_info({table})")]


def _json_object(prefix: str, cols: list[str]) -> str:
    """SQL fragment building a JSON image from NEW./OLD. row references."""
    pairs = ", ".join(f"'{c}', {prefix}.{c}" for c in cols)
    return f"json_object({pairs})"


def _create_triggers(conn, table: str, cols: Sequence[str]) -> None:
    """Create the three capture triggers inside the caller's transaction
    (shared by first install and post-DDL refresh)."""
    new_img = _json_object("NEW", cols)
    old_img = _json_object("OLD", cols)
    specs = [
        ("ins", "INSERT", "c", "NULL", new_img),
        ("upd", "UPDATE", "u", old_img, new_img),
        ("del", "DELETE", "d", old_img, "NULL"),
    ]
    for suffix, event, op, before, after in specs:
        conn.execute(
            f"""CREATE TRIGGER IF NOT EXISTS _cdc_{table}_{suffix}
                AFTER {event} ON {table} BEGIN
                  INSERT INTO {LOG_TABLE}(tbl, op, before, after)
                  VALUES ('{table}', '{op}', {before}, {after});
                END"""
        )


def install_cdc(db_path: str, table: str) -> None:
    """Install change capture on ``table``: the ``_cdc_log`` audit table
    plus AFTER INSERT/UPDATE/DELETE triggers writing before/after images.

    Idempotent.  The AUTOINCREMENT id is assigned at INSERT time inside
    the writer's transaction, so ids are totally ordered by commit order —
    the single-integer analogue of (binlog file, position).
    """
    conn = _connect(db_path)
    try:
        # WAL: concurrent readers never block the writer (and vice versa) —
        # required for a lock-free snapshot against a live writer
        conn.execute("PRAGMA journal_mode=WAL")
        cols = _table_columns(conn, table)
        if not cols:
            raise ValueError(f"table {table!r} does not exist in {db_path}")
        conn.execute(
            f"""CREATE TABLE IF NOT EXISTS {LOG_TABLE} (
                id INTEGER PRIMARY KEY AUTOINCREMENT,
                tbl TEXT NOT NULL,
                op TEXT NOT NULL,
                before TEXT,
                after TEXT,
                ts_ms INTEGER NOT NULL
                    DEFAULT (CAST((julianday('now') - 2440587.5) * 86400000 AS INTEGER))
            )"""
        )
        _create_triggers(conn, table, cols)
        conn.commit()
    finally:
        conn.close()


#: declared-type → Spark type for the live physical schema (sqlite's
#: type affinity system; NUMERIC affinity lands on double)
_SQLITE_TYPE_MAP = {
    "INTEGER": "bigint",
    "INT": "bigint",
    "BIGINT": "bigint",
    "REAL": "double",
    "FLOAT": "double",
    "DOUBLE": "double",
    "NUMERIC": "double",
    "TEXT": "string",
    "VARCHAR": "string",
    "CHAR": "string",
    "BLOB": "binary",
    "BOOLEAN": "boolean",
}


def table_schema_signature(db_path: str, table: str) -> list[str]:
    """Deterministic ``name:decltype`` list for schema-drift detection —
    pinned into the stream offset so a restart compares against the SAME
    baseline it committed (L6 on a live database)."""
    conn = _connect(db_path)
    try:
        return [
            f"{r[1]}:{(r[2] or 'TEXT').upper()}"
            for r in conn.execute(f"PRAGMA table_info({table})")
        ]
    finally:
        conn.close()


def physical_schema(db_path: str, table: str):
    """Spark StructType of the live table (feeds plan_schema_evolution)."""
    from pyspark.sql import types as _T

    fields = []
    for sig in table_schema_signature(db_path, table):
        name, decl = sig.split(":", 1)
        base = decl.split("(")[0].strip()
        fields.append(
            _T.StructField(
                name, _T._parse_datatype_string(_SQLITE_TYPE_MAP.get(base, "string"))
            )
        )
    return _T.StructType(fields)


def _ddl_envelope(table: str, old: list[str], new: list[str], pos: int) -> str:
    """Synthesized schema-change envelope (the live twin of Debezium's DDL
    events): pseudo-DDL derived from the pinned-vs-current signature diff,
    ts_ms 0 — schema history orders by log position, not wall time, so
    replay regenerates the identical event (C3/C4 determinism)."""
    old_names = {s.split(":", 1)[0] for s in old}
    new_names = {s.split(":", 1)[0] for s in new}
    stmts = [
        f"ALTER TABLE {table} ADD COLUMN {s.split(':', 1)[0]} {s.split(':', 1)[1]}"
        for s in new
        if s.split(":", 1)[0] not in old_names
    ] + [
        f"ALTER TABLE {table} DROP COLUMN {s.split(':', 1)[0]}"
        for s in old
        if s.split(":", 1)[0] not in new_names
    ] + [
        f"ALTER TABLE {table} ALTER COLUMN {s.split(':', 1)[0]} TYPE {s.split(':', 1)[1]}"
        for s in new
        if s.split(":", 1)[0] in old_names and s not in old
    ]
    env = {
        "databaseName": "main",
        "ddl": "; ".join(stmts) or f"ALTER TABLE {table}",
        "ts_ms": 0,
        "source": {"db": "main", "table": table, "ts_ms": 0, "file": "cdc", "pos": pos},
    }
    return json.dumps(env, separators=(",", ":"))


def schema_drift_event(
    db_path: str, table: str, pinned_sig: list[str] | None
) -> tuple[str | None, list[str]]:
    """(ddl_envelope_or_None, current_signature): compare the offset's
    pinned schema signature against the live table; a drift yields one
    synthesized DDL envelope.  Constant pos/ts keep replay deterministic
    — the event is a pure function of (pinned, current) signatures."""
    sig = table_schema_signature(db_path, table)
    if pinned_sig is not None and pinned_sig != sig:
        return _ddl_envelope(table, pinned_sig, sig, 0), sig
    return None, sig


def reinstall_capture(db_path: str, table: str) -> None:
    """Refresh the capture triggers after a schema change: the trigger
    bodies enumerate columns (json_object), so an ALTER TABLE leaves them
    capturing the OLD column list — the trigger-capture analogue of
    Debezium refreshing its in-memory table schema on a DDL event.

    Drop + re-create happens in ONE write transaction (``BEGIN
    IMMEDIATE`` takes the write lock up front), so no concurrent writer
    can commit in a triggerless window — a two-transaction refresh would
    silently lose any event committed between the drop-commit and the
    re-create.  Events committed BEFORE the refresh carry old-shape
    images (their new columns read as NULL downstream, which
    ``from_json`` handles)."""
    conn = _connect(db_path)
    try:
        conn.execute("BEGIN IMMEDIATE")
        for sfx in ("ins", "upd", "del"):
            conn.execute(f"DROP TRIGGER IF EXISTS _cdc_{table}_{sfx}")
        _create_triggers(conn, table, _table_columns(conn, table))
        conn.commit()
    except BaseException:
        conn.rollback()
        raise
    finally:
        conn.close()


def log_position(db_path: str) -> int:
    """Current log high-water mark — P5's ``log_position_fn`` against a
    LIVE log (``MAX(id)``; 0 = empty log)."""
    conn = _connect(db_path)
    try:
        row = conn.execute(f"SELECT COALESCE(MAX(id), 0) FROM {LOG_TABLE}").fetchone()
        return int(row[0])
    finally:
        conn.close()


def read_log_between(
    db_path: str, after_id: int, upto_id: int | None = None, limit: int | None = None
) -> list[tuple[int, str, str, str | None, str | None, int]]:
    """Log rows with ``after_id < id [<= upto_id]`` in commit order.
    Deterministic (append-only log) — the replay contract of C3/C4."""
    q = f"SELECT id, tbl, op, before, after, ts_ms FROM {LOG_TABLE} WHERE id > ?"
    args: list[Any] = [after_id]
    if upto_id is not None:
        q += " AND id <= ?"
        args.append(upto_id)
    q += " ORDER BY id"
    if limit is not None:
        q += " LIMIT ?"
        args.append(limit)
    conn = _connect(db_path)
    try:
        return [tuple(r) for r in conn.execute(q, args)]
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# chunk planning + merged chunk read
# ---------------------------------------------------------------------------

def plan_chunks(db_path: str, table: str, key_col: str, chunk_size: int) -> list[ChunkRange]:
    """P1-P3 against the live table: MIN/MAX/COUNT probe, then
    :func:`~.chunking.split_even_or_whole` (integer pk)."""
    conn = _connect(db_path)
    try:
        mn, mx, cnt = conn.execute(
            f"SELECT COALESCE(MIN({key_col}),0), COALESCE(MAX({key_col}),0), COUNT(*) FROM {table}"
        ).fetchone()
    finally:
        conn.close()
    return split_even_or_whole(mn, mx, cnt, chunk_size)


def _chunk_where(key_col: str, lo: Any, hi: Any) -> tuple[str, list]:
    conds, args = [], []
    if lo is not None:
        conds.append(f"{key_col} >= ?")
        args.append(lo)
    if hi is not None:
        conds.append(f"{key_col} < ?")
        args.append(hi)
    return (" AND ".join(conds) or "1=1"), args


def read_chunk_merged(
    db_path: str,
    table: str,
    key_col: str,
    lo: Any,
    hi: Any,
) -> tuple[list[str], int, int]:
    """One consistent chunk: low watermark → SELECT chunk → high watermark
    on one connection, then :func:`~.chunking.merge_backfill` of the log
    rows in (low, high].

    Returns (envelope JSON strings with op='r' at offset ``high``, low, high).
    """
    conn = _connect(db_path)
    try:
        low = int(
            conn.execute(f"SELECT COALESCE(MAX(id),0) FROM {LOG_TABLE}").fetchone()[0]
        )
        where, args = _chunk_where(key_col, lo, hi)
        cols = _table_columns(conn, table)
        col_list = ", ".join(cols)
        rows = conn.execute(
            f"SELECT {col_list} FROM {table} WHERE {where}", args
        ).fetchall()
        high = int(
            conn.execute(f"SELECT COALESCE(MAX(id),0) FROM {LOG_TABLE}").fetchone()[0]
        )
    finally:
        conn.close()

    backfill = read_log_between(db_path, low, high) if high > low else []
    envs = merge_backfill(
        (dict(zip(cols, r)) for r in rows),
        backfill, table, key_col, ChunkRange(lo, hi), high,
    )
    return envs, low, high


# ---------------------------------------------------------------------------
# chunk-meta compaction (§2.8 chunk-meta.group.size parity)
# ---------------------------------------------------------------------------
#
# The reference splits large chunk-meta lists into groups so checkpoint
# state stays bounded (MySqlSourceOptions.CHUNK_META_GROUP_SIZE, default
# 1000).  Our chunk plan lives in the SS offset log; the analogue is to
# stop the offset JSON growing O(#chunks) for big tables: an even-split
# plan is pure arithmetic, so past the group-size threshold it is stored
# as a {start, step, n} descriptor instead of an explicit range list —
# O(1) offset entries for million-chunk snapshots.

DEFAULT_CHUNK_META_GROUP_SIZE = 1000


def encode_chunks(chunks: list[ChunkRange], group_size: int):
    """Explicit [[lo, hi], ...] below the threshold; above it, an O(1)
    arithmetic descriptor when the interior chunk boundaries are uniform
    (split_even output always is — possibly with unbounded first/last
    chunks, which keep their explicit bounds)."""
    if len(chunks) <= group_size:
        return [[c.start, c.end] for c in chunks]
    # interior boundaries: end of chunk i == start of chunk i+1
    bounds = [c.start for c in chunks[1:]]
    if (
        len(chunks) >= 3
        and all(b is not None for b in bounds)
        and all(c.end == n.start for c, n in zip(chunks[:-1], chunks[1:]))
    ):
        steps = {int(b) - int(a) for a, b in zip(bounds[:-1], bounds[1:])}
        if len(steps) == 1:
            return {
                "first_start": chunks[0].start,
                "b1": int(bounds[0]),
                "step": steps.pop(),
                "n": len(chunks),
                "last_end": chunks[-1].end,
            }
    return [[c.start, c.end] for c in chunks]  # non-uniform: explicit


def decode_chunks(spec) -> list:
    """Inverse of ``encode_chunks`` → [[lo, hi], ...]."""
    if isinstance(spec, list):
        return spec
    b1, step, n = int(spec["b1"]), int(spec["step"]), int(spec["n"])
    bounds = (
        [spec["first_start"]]
        + [b1 + i * step for i in range(n - 1)]
        + [spec["last_end"]]
    )
    return [[a, b] for a, b in zip(bounds[:-1], bounds[1:])]


# ---------------------------------------------------------------------------
# streaming reader (driver-side, parallelism 1 in the log phase — same
# ordering rationale as the file dialect / reference mysql-cdc.md:408)
# ---------------------------------------------------------------------------

def _opt(options: Mapping[str, str], name: str, default: Any) -> Any:
    """Option ``name`` by its lowercase or camelCase key (Spark hands a
    registered source case-insensitive options; a directly built reader
    may get either), else ``default``."""
    return options.get(name.lower()) or options.get(name) or default


class SqliteCdcStreamReader(SimpleDataSourceStreamReader):
    """Snapshot→log hybrid stream over a live sqlite database.

    Offset JSON:

    - snapshot phase: ``{"phase": "snapshot", "chunk_idx": i,
      "chunks": [[lo, hi], ...], "chunk_highs": [...], "min_low": n}``
      — the chunk plan is pinned at ``initialOffset`` so a restarted query
      resumes the SAME plan (the reference serializes pending splits into
      checkpoint state the same way, ``MySqlSplitSerializer``).
    - log phase: ``{"phase": "log", "log_id": n, "chunks": ...,
      "chunk_highs": ...}`` — chunk metadata is carried until ``log_id``
      passes ``max(chunk_highs)`` (shouldEmit horizon), then dropped.
    """

    def __init__(self, options: Mapping[str, str]) -> None:
        self.db_path = options["path"]
        self._init_protocol_options(options)
        # §2.8 connection option parity (MySqlSourceOptions.java:32-215)
        self.conn_conf = (
            float(_opt(options, "connectTimeout", DEFAULT_CONNECT_TIMEOUT_S)),
            int(_opt(options, "connectMaxRetries", DEFAULT_CONNECT_MAX_RETRIES)),
            int(_opt(options, "connectionPoolSize", DEFAULT_POOL_SIZE)),
        )
        configure_connection(self.db_path, *self.conn_conf)

    def _init_protocol_options(self, options: Mapping[str, str]) -> None:
        """Engine-agnostic protocol knobs — shared by every trigger-log
        dialect built on this reader (the snapshot→log state machine,
        shouldEmit, heartbeats, chunk-meta compaction, and L6 probing are
        all engine-independent; subclasses override only the engine SPI
        methods below)."""
        self.table = options["table"]
        self.key_col = _opt(options, "keyColumn", "id")
        self.chunk_size = int(_opt(options, "chunkSize", DEFAULT_CHUNK_SIZE))
        self.max_events = int(_opt(options, "maxEventsPerBatch", 10_000))
        self.startup = _opt(options, "startingOffsets", "initial").lower()
        # L5 heartbeats (MySqlSourceOptions.java:167-172): when the log
        # advances on OTHER tables' traffic while ours is idle, emit a
        # synthetic op='h' row every N skipped entries so downstream
        # event-time watermarks keep moving.  Counted in log entries (not
        # wall time) so replay of a committed range reproduces the exact
        # same heartbeat rows — determinism is the C3/C4 contract.
        self.heartbeat_every = int(_opt(options, "heartbeatInterval", 0))
        self.chunk_meta_group_size = int(
            _opt(options, "chunkMetaGroupSize", DEFAULT_CHUNK_META_GROUP_SIZE)
        )
        # L6 on the live dialect (reference `include-schema-changes`,
        # default false there too): per-batch schema probe against the
        # signature PINNED IN THE OFFSET; drift emits a synthesized DDL
        # envelope into the raw stream (schema_change_events surfaces it,
        # plan_schema_evolution classifies widen-vs-resnapshot).
        self.include_schema_changes = str(
            _opt(options, "includeSchemaChanges", "false")
        ).lower() == "true"

    # -- engine SPI (override these — and ONLY these — for a new
    # trigger-log dialect; tests/test_dialect_conformance.py drives the
    # protocol assertions against every implementation) ------------------
    def _plan_chunks_spi(self) -> list[ChunkRange]:
        return plan_chunks(self.db_path, self.table, self.key_col, self.chunk_size)

    def _log_position_spi(self) -> int:
        return log_position(self.db_path)

    def _read_chunk_merged_spi(self, lo: Any, hi: Any) -> tuple[list[str], int, int]:
        return read_chunk_merged(self.db_path, self.table, self.key_col, lo, hi)

    def _read_log_between_spi(
        self, after_id: int, limit: int
    ) -> list[tuple[int, str, str, str | None, str | None, int]]:
        return read_log_between(self.db_path, after_id, limit=limit)

    def _schema_signature_spi(self) -> list[str]:
        return table_schema_signature(self.db_path, self.table)

    def _schema_drift_spi(self, old_sig):
        return schema_drift_event(self.db_path, self.table, old_sig)

    def _refresh_capture_spi(self) -> None:
        reinstall_capture(self.db_path, self.table)

    def _seek_timestamp_spi(self, ts_ms: int) -> int:
        """Smallest log id with ``ts_ms >=`` the target, or the current
        log position when nothing is that new (nothing replays)."""
        conn = _connect(self.db_path)
        try:
            row = conn.execute(
                f"SELECT MIN(id) FROM {LOG_TABLE} WHERE ts_ms >= ?",
                (int(ts_ms),),
            ).fetchone()
        finally:
            conn.close()
        return int(row[0]) - 1 if row[0] is not None else self._log_position_spi()

    # -- offsets -----------------------------------------------------------
    def initialOffset(self) -> dict:
        if self.startup == "latest":
            off = {"phase": "log", "log_id": self._log_position_spi()}
        elif self.startup == "earliest":
            off = {"phase": "log", "log_id": 0}
        elif self.startup.startswith("specific:"):
            # §2.6 scan.startup.specific-offset: resume the log after an
            # exact committed position (the binlog file/pos analogue is
            # this dialect's single-integer id)
            off = {"phase": "log", "log_id": int(self.startup.split(":", 1)[1])}
        elif self.startup.startswith("timestamp:"):
            # §2.6 scan.startup.timestamp-millis: first event at/after T
            ts_ms = int(self.startup.split(":", 1)[1])
            off = {"phase": "log", "log_id": self._seek_timestamp_spi(ts_ms)}
        else:
            chunks = self._plan_chunks_spi()
            off = {
                "phase": "snapshot",
                "chunk_idx": 0,
                "chunks": encode_chunks(chunks, self.chunk_meta_group_size),
                "chunk_highs": [],
                "min_low": None,
            }
        if self.include_schema_changes:
            off["schema_sig"] = self._schema_signature_spi()
        return off

    # -- reading -----------------------------------------------------------
    def _read_snapshot(self, start: dict) -> Tuple[list[tuple], dict]:
        """Serve whole chunks until the per-batch event budget is spent,
        then hand off to the log IN the same batch if budget remains (P9 —
        the single assigner thread of ``MySqlHybridSplitAssigner.getNext``
        makes the same in-batch switch).  Chunks are never split across
        batches: a chunk is the atomic unit of watermark bracketing."""
        enc = start["chunks"]  # offset keeps the COMPACT form (C3/C4 size)
        chunks = decode_chunks(enc)
        idx = start["chunk_idx"]
        highs = list(start["chunk_highs"])
        min_low = start["min_low"]
        rows: list[tuple] = []
        while idx < len(chunks) and len(rows) < self.max_events:
            lo, hi = chunks[idx]
            envs, low, high = self._read_chunk_merged_spi(lo, hi)
            rows.extend((e, "cdc", high) for e in envs)
            highs.append(high)
            if min_low is None:
                min_low = low
            idx += 1
        if idx < len(chunks):
            return rows, {
                "phase": "snapshot",
                "chunk_idx": idx,
                "chunks": enc,
                "chunk_highs": highs,
                "min_low": min_low,
            }
        # snapshot complete → log phase from the GLOBAL minimum low
        # watermark; shouldEmit suppresses what chunk merges delivered
        nxt = {
            "phase": "log",
            "log_id": min_low,
            "chunks": enc,
            "chunk_highs": highs,
        }
        if len(rows) < self.max_events:
            more, nxt = self._read_log(nxt, limit=self.max_events - len(rows))
            rows.extend(more)
        return rows, nxt

    def _read_log(self, start: dict, limit: int | None = None) -> Tuple[list[tuple], dict]:
        enc = start.get("chunks") or []
        highs = start.get("chunk_highs") or []
        # shouldEmit (L2) runs against the snapshotted chunks until the log
        # passes the last high watermark
        finished = [
            (ChunkRange(lo, hi), high)
            for (lo, hi), high in zip(decode_chunks(enc), highs)
        ]
        horizon = max(highs) if highs else -1
        cursor = int(start["log_id"])
        rows: list[tuple] = []
        events = self._read_log_between_spi(
            cursor, self.max_events if limit is None else limit
        )
        skipped = 0
        for ev_id, tbl, op, before, after, ts_ms in events:
            cursor = ev_id
            if tbl != self.table:
                skipped += 1
                if self.heartbeat_every and skipped >= self.heartbeat_every:
                    rows.append(
                        (
                            log_envelope("h", None, None, "__heartbeat__", ev_id, ts_ms),
                            "cdc",
                            ev_id,
                        )
                    )
                    skipped = 0
                continue
            skipped = 0
            img = json.loads(after if op != "d" else before)
            if finished and not should_emit(ev_id, img.get(self.key_col), finished):
                continue
            rows.append((log_envelope(op, before, after, tbl, ev_id, ts_ms), "cdc", ev_id))
        nxt: dict[str, Any] = {"phase": "log", "log_id": cursor}
        if finished and cursor <= horizon:
            nxt["chunks"], nxt["chunk_highs"] = enc, highs
        return rows, nxt

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        ddl_rows: list[tuple] = []
        sig: list[str] | None = None
        if self.include_schema_changes:
            ddl, sig = self._schema_drift_spi(start.get("schema_sig"))
            if ddl is not None:
                ddl_rows.append((ddl, "cdc", None))
                # triggers still capture the OLD column list — refresh so
                # events from here on carry the new shape
                self._refresh_capture_spi()
        if start.get("phase") == "snapshot":
            rows, nxt = self._read_snapshot(start)
        else:
            rows, nxt = self._read_log(start)
        if self.include_schema_changes:
            nxt["schema_sig"] = sig
        return iter(ddl_rows + list(rows)), nxt

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        """Recovery replay of a committed range.  Log ranges replay exactly
        (append-only log).  A snapshot chunk re-reads the LIVE table — the
        result is consistent at a new high watermark, the reference's
        failover contract for unacked snapshot splits."""
        out: list[tuple] = []
        cursor = start
        while True:
            rows, cursor = self.read(cursor)
            out.extend(rows)
            if cursor == end or not rows and cursor.get("phase") != "snapshot":
                break
            if cursor.get("phase") == "log" and end.get("phase") == "log":
                if int(cursor["log_id"]) >= int(end["log_id"]):
                    break
        if end.get("phase") == "log":
            limit = int(end["log_id"])
            out = [r for r in out if r[2] is None or int(r[2]) <= limit]
        return iter(out)

    def commit(self, end: dict) -> None:
        # C8: the SS offset log owns progress; the audit log is pruned by
        # the user's retention job (``prune_log``), not the reader.
        pass


def prune_log(db_path: str, upto_id: int) -> int:
    """Retention: drop acknowledged log rows (the reference's equivalent is
    the DB engine's own binlog expiry).  Returns rows deleted."""
    conn = _connect(db_path)
    try:
        cur = conn.execute(f"DELETE FROM {LOG_TABLE} WHERE id <= ?", (upto_id,))
        conn.commit()
        return cur.rowcount
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# bounded batch reader — chunk-per-partition (executor-parallel snapshot)
# ---------------------------------------------------------------------------

class _SqlitePartition(InputPartition):
    def __init__(self, kind: str, lo: Any = None, hi: Any = None) -> None:
        self.kind = kind
        self.lo = lo
        self.hi = hi


class SqliteCdcBatchReader(DataSourceReader):
    """Bounded snapshot + full-log read.  Snapshot chunks become Spark
    input partitions (executor-parallel, the split-assignment analogue);
    the log is one ordered partition.  Options are the stream reader's,
    and its SPI plans and reads the chunks."""

    def __init__(self, options: Mapping[str, str]) -> None:
        self.stream = SqliteCdcStreamReader(options)

    def partitions(self) -> list[InputPartition]:
        return [
            _SqlitePartition("chunk", c.start, c.end)
            for c in self.stream._plan_chunks_spi()
        ] + [_SqlitePartition("log")]

    def read(self, partition: _SqlitePartition) -> Iterator[Tuple]:
        s = self.stream
        # connection options ride the pickled reader: executor processes
        # have fresh module state, so the driver-side configure_connection
        # alone would not reach them
        configure_connection(s.db_path, *s.conn_conf)
        if partition.kind == "chunk":
            envs, _low, high = s._read_chunk_merged_spi(partition.lo, partition.hi)
            for e in envs:
                yield (e, "cdc", high)
        else:
            for ev_id, tbl, op, before, after, ts_ms in read_log_between(s.db_path, 0):
                if tbl != s.table:
                    continue
                yield (log_envelope(op, before, after, tbl, ev_id, ts_ms), "cdc", ev_id)


class SqliteCdcDataSource(DataSource):
    """``spark.readStream.format("cdcsqlite")`` — live-DB dialect.

    Options: ``path`` (sqlite file), ``table``, ``keyColumn`` (default
    ``id``), ``chunkSize``, ``maxEventsPerBatch``, ``startingOffsets``
    (initial|earliest|latest), ``heartbeatInterval``; §2.8 connection
    parity: ``connectTimeout`` (s), ``connectMaxRetries``,
    ``connectionPoolSize``, ``chunkMetaGroupSize``.
    """

    @classmethod
    def name(cls) -> str:
        return "cdcsqlite"

    def schema(self) -> T.StructType:
        return RAW_SCHEMA

    def _preflight(self) -> None:
        # C10: fail at submission with every problem listed, not at the
        # first microbatch with a stack trace (MySqlValidator's contract)
        if str(self.options.get("validatepreflight", "true")).lower() != "false":
            from .validators import validate_sqlite_dialect

            validate_sqlite_dialect(self.options)

    def reader(self, schema: T.StructType) -> DataSourceReader:
        self._preflight()
        return SqliteCdcBatchReader(self.options)

    def simpleStreamReader(self, schema: T.StructType) -> SimpleDataSourceStreamReader:
        self._preflight()
        return SqliteCdcStreamReader(self.options)


def register(spark) -> None:
    """Register the cdcsqlite source on a session (idempotent)."""
    spark.dataSource.register(SqliteCdcDataSource)

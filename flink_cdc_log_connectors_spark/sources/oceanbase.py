"""OceanBase dialect (S8) — JDBC snapshot + commit-log tail on the SPI.

The reference's ``OceanBaseRichSourceFunction.java:73`` combines (a) a
plain JDBC full snapshot (``:157-215`` — OceanBase speaks the MySQL
protocol, so ordinary JDBC reads work) with (b) a logproxy client
(``:282-300``) streaming commit-versioned transactions; the COMMIT
VERSION (a cluster-global timestamp) is the log offset, and ``op_ts`` in
the readable metadata is that commit version in seconds
(``OceanBaseReadableMetadata.java``).

Spark-first mapping: the snapshot half IS ``read_snapshot_consistent``
(per-chunk eager reads bracketed by commit-version watermarks, per-chunk
backfill merge — ``sources/jdbc.py``); the log half is a
``LogProxyClient`` protocol whose records normalize into the engine's
shared envelope JSON, so the whole downstream stack (``parse_debezium``,
``apply_changelog``, state-table sinks) is reused unchanged.  The
network logproxy client itself is a deployment plugin (this build
environment has no OceanBase server or oblogproxy); ``FakeLogProxyClient``
in tests drives the full protocol — the same stance the repo takes for
the MySQL binlog client, with the sqlite dialect proving the live-DB
protocol end-to-end.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Iterator, Protocol

from .chunking import ChunkRange, should_emit
from .jdbc import LogEvent

#: reference startup modes (OceanBaseTableSourceFactory `scan.startup.mode`)
STARTUP_MODES = ("initial", "latest-offset", "timestamp")


@dataclass(frozen=True)
class LogMessage:
    """One logproxy record (reference ``LogMessage`` from oblogclient):
    DML type, tenant.db.table, field maps, and the commit version."""

    op: str  # 'c' | 'u' | 'd'
    tenant: str
    database: str
    table: str
    before: dict | None
    after: dict | None
    commit_version: int  # cluster commit timestamp (the log offset)


class LogProxyClient(Protocol):
    """What a real oblogproxy connection must provide.  The reference's
    client (``OceanBaseRichSourceFunction.java:282-300``) subscribes with
    a startup commit version and receives ordered transaction buffers."""

    def current_commit_version(self) -> int:
        """Latest commit version — the P5 watermark probe."""
        ...

    def fetch(self, after_version: int, upto_version: int | None = None) -> list[LogMessage]:
        """Messages with ``after_version < v [<= upto_version]`` in commit
        order (deterministic replay: C3/C4)."""
        ...


def log_events_from_messages(
    msgs: list[LogMessage], table: str
) -> list[LogEvent]:
    """Backfill-merge view of logproxy messages (P6): the key-bearing
    image per message, offset = commit version."""
    out = []
    for m in msgs:
        if m.table != table:
            continue
        img = m.after if m.op != "d" else m.before
        if img is not None:
            out.append(LogEvent(offset=m.commit_version, op=m.op, image=img))
    return out


def envelope(m: LogMessage) -> str:
    """Shared raw wire format (RAW_SCHEMA ``value`` column): the same
    Debezium-style envelope every other dialect ships, with OceanBase's
    metadata triplet (tenant_name, database_name, table_name) and
    ``op_ts`` = commit version (OceanBaseReadableMetadata parity)."""
    env: dict[str, Any] = {
        "before": m.before,
        "after": m.after,
        "op": m.op,
        "ts_ms": m.commit_version * 1000,
        "source": {
            "tenant": m.tenant,
            "db": m.database,
            "table": m.table,
            "ts_ms": m.commit_version * 1000,
            "file": "oblog",
            "pos": m.commit_version,
        },
    }
    return json.dumps(env, separators=(",", ":"))


def read_snapshot_with_commitlog(
    spark,
    url: str,
    table: str,
    key_col: str,
    client: LogProxyClient,
    properties: dict[str, str] | None = None,
    chunk_size: int = 8096,
    **kwargs,
):
    """S8 snapshot phase: ``read_snapshot_consistent`` with the commit
    version as the watermark domain — each chunk eagerly fetched between
    two ``current_commit_version`` probes and merged with its own
    backfill window.  Returns the ConsistentSnapshotResult; for the log
    phase the caller hands ``result.watermarks`` to :func:`tail_commitlog`
    starting from ``min(w.high for w in result.watermarks)`` — NOT from
    ``result.max_high``: a chunk whose window sealed early is consistent
    only at its OWN high, so events for its keys in (its high, max_high]
    exist nowhere in the snapshot and must come from the tail (the
    per-chunk shouldEmit filter suppresses the already-merged rest)."""
    from .jdbc import read_snapshot_consistent

    return read_snapshot_consistent(
        spark,
        url,
        table,
        key_col,
        log_position_fn=client.current_commit_version,
        read_log_fn=lambda lo, hi: log_events_from_messages(
            client.fetch(lo, hi), table
        ),
        properties=properties,
        chunk_size=chunk_size,
        **kwargs,
    )


def tail_commitlog(
    client: LogProxyClient,
    table: str,
    key_col: str,
    after_version: int,
    chunk_watermarks: list[tuple[Any, Any, int]] | None = None,
) -> Iterator[tuple[str, str, int]]:
    """Log-phase rows in RAW_SCHEMA shape (value, file, pos) with the L2
    shouldEmit filter against the snapshot's per-chunk high watermarks
    (``BinlogSplitReader.shouldEmit`` semantics): an event whose key falls
    in a snapshotted chunk is emitted only past that chunk's high
    watermark — below it, the chunk's backfill merge already delivered
    the effect.  ``chunk_watermarks`` accepts
    ``ConsistentSnapshotResult.watermarks`` directly (ChunkWatermarks
    objects) or raw (chunk_lo, chunk_hi, high_watermark) tuples."""
    finished = [
        (ChunkRange(w[0], w[1]), w[2]) if isinstance(w, tuple) else (w.chunk, w.high)
        for w in chunk_watermarks or []
    ]
    for m in client.fetch(after_version):
        if m.table != table:
            continue
        if finished:
            img = (m.after if m.op != "d" else m.before) or {}
            if not should_emit(m.commit_version, img.get(key_col), finished):
                continue
        yield (envelope(m), "oblog", m.commit_version)

"""Snapshot chunk splitting — the reference's parallel consistent scan planner.

Re-expresses the reference's ChunkSplitter (reference
``flink-connector-mysql-cdc-log/.../assigners/ChunkSplitter.java:129-325``):

- **Split column selection** (P1): first primary-key column
  (``ChunkUtils.getSplitColumn``).
- **Even-distribution shortcut** (P2): when the key space is dense enough —
  distribution factor ``(max-min+1)/rowCount`` within
  ``[lower=0.05, upper=1000]`` — chunk ranges are computed arithmetically
  with dynamic chunk size ``distributionFactor × chunkSize``
  (``ChunkSplitter.java:144-194, 284-309``).
- **Uneven splitting** (P3): the reference issues per-chunk
  ``SELECT MAX(col) FROM (... LIMIT chunkSize)`` boundary queries
  (``StatementUtils.queryNextChunkMax:106-130``).  The Spark-native
  equivalent computes boundaries from ``approxQuantile`` over the key
  column — one distributed pass instead of N round-trips.

The output of every strategy is a list of ``ChunkRange``s that compile to
JDBC predicates for ``spark.read.jdbc(predicates=...)`` — Spark's executor-
parallel partitioned read, the direct analogue of snapshot-split assignment
to Flink readers.

The chunk rules every dialect shares live here too, so a fix to the
exactly-once protocol lands once:

- **Membership**: ``ChunkRange.contains`` — the half-open key test.
- **Backfill merge** (P6): ``merge_backfill`` replays a trigger log's
  (low, high] rows onto one chunk's rows (``RecordUtils.upsertBinlog``).
- **shouldEmit** (L2): ``should_emit`` filters log-phase events against
  the finished chunks' high watermarks (``BinlogSplitReader.shouldEmit``).
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame

#: reference defaults (MySqlSourceOptions.java:103-108, 186-207)
DEFAULT_CHUNK_SIZE = 8096
DISTRIBUTION_FACTOR_UPPER = 1000.0
DISTRIBUTION_FACTOR_LOWER = 0.05


@dataclass(frozen=True)
class ChunkRange:
    """Half-open chunk ``[start, end)``; ``None`` bound = unbounded.
    Mirrors the reference's snapshot split ``[splitStart, splitEnd)``."""

    start: float | int | None
    end: float | int | None

    def predicate(self, col: str) -> str:
        """JDBC WHERE fragment selecting exactly this chunk."""
        if self.start is None and self.end is None:
            return "1=1"
        if self.start is None:
            return f"{col} < {self.end}"
        if self.end is None:
            return f"{col} >= {self.start}"
        return f"{col} >= {self.start} AND {col} < {self.end}"

    def contains(self, key: Any) -> bool:
        """Whether ``key`` lies in ``[start, end)``.  A ``None`` key (an
        image without the chunk column) lies in no chunk."""
        return (
            key is not None
            and (self.start is None or key >= self.start)
            and (self.end is None or key < self.end)
        )


def distribution_factor(min_key: int, max_key: int, row_count: int) -> float:
    """``(max - min + 1) / rowCount`` (ChunkSplitter.java:284-309).
    A factor near 1 means dense, evenly-spaced keys."""
    if row_count == 0:
        return float("inf")
    return (max_key - min_key + 1) / row_count


def is_even_distribution(
    factor: float,
    upper: float = DISTRIBUTION_FACTOR_UPPER,
    lower: float = DISTRIBUTION_FACTOR_LOWER,
) -> bool:
    """Even-split gate (ChunkSplitter.java:144-161)."""
    return lower <= factor <= upper


def split_even(
    min_key: int,
    max_key: int,
    row_count: int,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    upper: float = DISTRIBUTION_FACTOR_UPPER,
    lower: float = DISTRIBUTION_FACTOR_LOWER,
) -> list[ChunkRange] | None:
    """Arithmetic chunk ranges, or ``None`` if the distribution is uneven.

    Dynamic chunk size = ``ceil(distributionFactor × chunkSize)`` — so a
    sparse-but-even key space still yields ~chunkSize rows per chunk
    (ChunkSplitter.java:171-194).
    """
    factor = distribution_factor(min_key, max_key, row_count)
    if not is_even_distribution(factor, upper, lower):
        return None
    dynamic = max(int(math.ceil(factor * chunk_size)), 1)
    if max_key - min_key + 1 <= dynamic:
        return [ChunkRange(None, None)]
    ranges: list[ChunkRange] = [ChunkRange(None, min_key + dynamic)]
    start = min_key + dynamic
    while start + dynamic <= max_key:
        ranges.append(ChunkRange(start, start + dynamic))
        start += dynamic
    ranges.append(ChunkRange(start, None))
    return ranges


def split_even_or_whole(
    min_key: int, max_key: int, row_count: int, chunk_size: int = DEFAULT_CHUNK_SIZE
) -> list[ChunkRange]:
    """The trigger-log dialects' plan from a MIN/MAX/COUNT probe: the even
    split, else ONE unbounded chunk — an empty table or an uneven key
    space is read whole (correct, just less parallel; the quantile path
    stays on the JDBC snapshot, where a distributed pass pays off)."""
    return split_even(int(min_key), int(max_key), int(row_count), chunk_size) or [
        ChunkRange(None, None)
    ]


def split_from_boundaries(boundaries: list) -> list[ChunkRange]:
    """Chunk ranges from sorted interior boundary keys (uneven path).
    ``k`` boundaries produce ``k+1`` chunks with unbounded first/last —
    same shape the reference's query-driven splitter emits."""
    uniq = sorted(set(boundaries))
    if not uniq:
        return [ChunkRange(None, None)]
    ranges = [ChunkRange(None, uniq[0])]
    for lo, hi in zip(uniq, uniq[1:]):
        ranges.append(ChunkRange(lo, hi))
    ranges.append(ChunkRange(uniq[-1], None))
    return ranges


def split_uneven_by_quantiles(
    df: DataFrame,
    col: str,
    row_count: int,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    relative_error: float = 0.001,
) -> list[ChunkRange]:
    """Spark-native uneven splitter: boundaries via one distributed
    ``approxQuantile`` pass over the key column (vs the reference's N
    sequential ``queryNextChunkMax`` round-trips — same result shape,
    O(1) scans instead of O(N) queries)."""
    num_chunks = max(int(math.ceil(row_count / chunk_size)), 1)
    if num_chunks == 1:
        return [ChunkRange(None, None)]
    probs = [i / num_chunks for i in range(1, num_chunks)]
    boundaries = df.stat.approxQuantile(col, probs, relative_error)
    return split_from_boundaries(boundaries)


def plan_snapshot_chunks(
    min_key: int,
    max_key: int,
    row_count: int,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    key_df: DataFrame | None = None,
    key_col: str | None = None,
) -> list[ChunkRange]:
    """Full splitter: even shortcut when the gate passes, else quantile-
    driven uneven split (requires ``key_df``/``key_col`` for sampling)."""
    even = split_even(min_key, max_key, row_count, chunk_size)
    if even is not None:
        return even
    if key_df is None or key_col is None:
        raise ValueError(
            "uneven key distribution requires key_df/key_col for quantile splitting"
        )
    return split_uneven_by_quantiles(key_df, key_col, row_count, chunk_size)


def chunk_predicates(col: str, ranges: list[ChunkRange]) -> list[str]:
    """Predicate list for ``spark.read.jdbc(url, table, predicates=...)`` —
    one executor-side partition per chunk."""
    return [r.predicate(col) for r in ranges]


#: Spark type names eligible as a chunk key.  Numeric keys additionally
#: qualify for the even-distribution shortcut (P2); the rest always take
#: the quantile path.  Mirrors the reference's accepted split-key types
#: (``ChunkUtils.getSplitColumn`` + ``ChunkSplitter`` numeric gate
#: ``:272-281``; varbinary keys exercised by
#: ``MySqlConnectorITCase.testPrimaryKeyWithVarbinaryType:902``).
SPLIT_ELIGIBLE_TYPES = frozenset(
    {
        "tinyint", "smallint", "int", "integer", "bigint", "long",
        "float", "double", "decimal", "string", "binary", "date",
        "timestamp", "timestamp_ntz",
    }
)


def choose_split_column(
    schema, primary_key: list[str], chunk_key_column: str | None = None
) -> str:
    """P1 — pick the chunk/split column: the FIRST primary-key column
    (reference ``ChunkUtils.getSplitColumn``); tables without a primary
    key cannot be incrementally snapshot (the reference rejects them the
    same way — ``mysql-cdc.md:422-427``).

    ``chunk_key_column`` mirrors the reference's
    ``scan.incremental.snapshot.chunk.key-column`` option: the user
    overrides the default when the leading PK column is badly distributed
    (e.g. a UUID prefix or a hot tenant id).  It must still be ONE of the
    primary-key columns — chunk-level exactly-once relies on a chunk
    range owning its keys exclusively, which only a unique-key component
    guarantees.

    ``schema`` is the table's ``StructType``; the chosen column must exist
    and have a chunkable type.
    """
    if not primary_key:
        raise ValueError(
            "incremental snapshot requires a primary key; "
            "tables without one must use a single-chunk (full) scan"
        )
    if chunk_key_column is not None:
        if chunk_key_column not in primary_key:
            raise ValueError(
                f"chunk key column {chunk_key_column!r} must be one of the "
                f"primary key columns {primary_key} (chunk ranges must own "
                "their keys exclusively)"
            )
        head = chunk_key_column
    else:
        head = primary_key[0]
    fields = {f.name: f for f in schema.fields}
    if head not in fields:
        raise ValueError(f"split column {head!r} not in table schema")
    type_name = fields[head].dataType.typeName()
    base = type_name.split("(")[0]
    if base not in SPLIT_ELIGIBLE_TYPES:
        raise ValueError(
            f"split column {head!r} has non-chunkable type {type_name}"
        )
    return head


# ---------------------------------------------------------------------------
# the snapshot→log protocol over a trigger log: backfill merge + shouldEmit
# ---------------------------------------------------------------------------


def log_envelope(
    op: str,
    before: str | None,
    after: str | None,
    table: str,
    pos: int,
    ts_ms: int,
    snapshot: bool = False,
) -> str:
    """The Debezium-style envelope JSON (``RAW_SCHEMA`` ``value``) the
    trigger-log dialects ship for one change at log position ``pos``."""
    env: dict[str, Any] = {
        "before": json.loads(before) if before else None,
        "after": json.loads(after) if after else None,
        "op": op,
        "ts_ms": ts_ms,
        "source": {
            "db": "main",
            "table": table,
            "ts_ms": ts_ms,
            "file": "cdc",
            "pos": pos,
            "snapshot": "true" if snapshot else None,
        },
    }
    return json.dumps(env, separators=(",", ":"))


def merge_backfill(
    rows: Iterable[dict],
    log_rows: Iterable[tuple],
    table: str,
    key_col: str,
    chunk: ChunkRange,
    high: int,
) -> list[str]:
    """P6 backfill merge (``RecordUtils.upsertBinlog:138-192``): replay
    the trigger log's (low, high] ``log_rows`` — ``(id, tbl, op, before,
    after, ts_ms)`` with JSON images — over the chunk's row images, last
    write wins: c/u put the after-image, d removes the key.  Other
    tables' rows and keys outside ``chunk`` are skipped.

    The chunk SELECT ran at some commit point T with low ≤ T ≤ high, so
    replaying is idempotent for events ≤ T and applies those > T: the
    result is the chunk range exactly at ``high``, returned as op='r'
    envelopes at offset ``high``."""
    state = {img[key_col]: img for img in rows}
    for _id, tbl, op, before, after, _ts in log_rows:
        if tbl != table:
            continue
        img = json.loads(after if op != "d" else before)
        k = img.get(key_col)
        if not chunk.contains(k):
            continue
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = img
    return [
        log_envelope(
            "r", None, json.dumps(img, separators=(",", ":")), table, high, 0,
            snapshot=True,
        )
        for img in state.values()
    ]


def should_emit(
    offset: int, key: Any, finished: Iterable[tuple[ChunkRange, int]]
) -> bool:
    """L2 shouldEmit (``BinlogSplitReader.shouldEmit:194-240``) for a
    log-phase event at ``offset`` on ``key``.  ``finished`` pairs each
    snapshotted chunk with its high watermark: an event whose key lies in
    one is emitted only past that high — up to it, the chunk's backfill
    merge already delivered the effect.  A key in no finished chunk is
    emitted."""
    for chunk, high in finished:
        if chunk.contains(key):
            return offset > high
    return True

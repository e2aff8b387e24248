"""Chunk-splitting math — port of the reference's ObjectUtilsTest /
ChunkSplitter behaviors (even gate, dynamic chunk size, range shapes)."""

from __future__ import annotations

import json

from flink_cdc_log_connectors_spark.sources.chunking import (
    ChunkRange,
    chunk_predicates,
    distribution_factor,
    is_even_distribution,
    merge_backfill,
    plan_snapshot_chunks,
    should_emit,
    split_even,
    split_even_or_whole,
    split_from_boundaries,
    split_uneven_by_quantiles,
)


def test_distribution_factor():
    # dense contiguous keys: factor 1.0 (ChunkSplitter.java:284-309)
    assert distribution_factor(1, 100, 100) == 1.0
    # sparse keys: factor > 1
    assert distribution_factor(0, 999, 10) == 100.0
    assert distribution_factor(0, 0, 0) == float("inf")


def test_even_gate_bounds():
    assert is_even_distribution(1.0)
    assert is_even_distribution(0.05)
    assert is_even_distribution(1000.0)
    assert not is_even_distribution(0.049)
    assert not is_even_distribution(1000.1)


def test_split_even_shapes():
    ranges = split_even(1, 100, 100, chunk_size=10)
    # first chunk unbounded below, last unbounded above (ChunkSplitter:171-194)
    assert ranges[0].start is None and ranges[0].end == 11
    assert ranges[-1].end is None
    # interior chunks are contiguous half-open ranges
    for a, b in zip(ranges, ranges[1:]):
        assert a.end == (b.start if b.start is not None else a.end)
    # ~10 chunks of 10 keys
    assert 9 <= len(ranges) <= 11


def test_split_even_dynamic_chunk_size():
    # sparse-but-even keys (factor 10) → chunk span scales ×10 so each
    # chunk still holds ~chunk_size rows
    ranges = split_even(0, 9999, 1000, chunk_size=10)
    interior = [r for r in ranges if r.start is not None and r.end is not None]
    assert interior and all(r.end - r.start == 100 for r in interior)


def test_split_even_single_chunk():
    assert split_even(1, 5, 5, chunk_size=100) == [ChunkRange(None, None)]


def test_split_even_rejects_uneven():
    # factor 10000 > upper bound 1000 → None (uneven path required)
    assert split_even(0, 9_999_999, 1000, chunk_size=10) is None
    # the trigger-log plan reads such a table (or an empty one) whole
    whole = [ChunkRange(None, None)]
    assert split_even_or_whole(0, 9_999_999, 1000, chunk_size=10) == whole
    assert split_even_or_whole(0, 0, 0, chunk_size=10) == whole
    assert split_even_or_whole(1, 100, 100, 10) == split_even(1, 100, 100, 10)


def test_split_from_boundaries():
    ranges = split_from_boundaries([10, 20, 30])
    assert ranges == [
        ChunkRange(None, 10),
        ChunkRange(10, 20),
        ChunkRange(20, 30),
        ChunkRange(30, None),
    ]
    assert split_from_boundaries([]) == [ChunkRange(None, None)]


def test_chunk_predicates_cover_all_keys():
    ranges = split_even(1, 100, 100, chunk_size=10)
    preds = chunk_predicates("id", ranges)
    # every key matches exactly one predicate (no loss, no duplication)
    for key in [1, 11, 50, 99, 100, -5, 1000]:
        matches = [p for p, r in zip(preds, ranges) if r.contains(key)]
        assert len(matches) == 1


def test_chunk_contains_is_half_open():
    chunk = ChunkRange(10, 20)
    # start inclusive, end exclusive
    assert chunk.contains(10) and chunk.contains(19)
    assert not chunk.contains(9) and not chunk.contains(20)
    # a None bound is unbounded
    assert ChunkRange(None, 20).contains(-(10**12))
    assert not ChunkRange(None, 20).contains(20)
    assert ChunkRange(10, None).contains(10**12)
    assert not ChunkRange(10, None).contains(9)
    assert ChunkRange(None, None).contains(0)
    # a None key lies in no chunk, not even the unbounded one
    assert not ChunkRange(None, None).contains(None)
    assert not chunk.contains(None)


def test_should_emit_against_finished_chunks():
    chunks = [ChunkRange(None, 10), ChunkRange(10, 20), ChunkRange(20, None)]
    highs = [5, 8]  # the third chunk is not finished yet
    finished = list(zip(chunks, highs))
    # up to the chunk's high the merge delivered the event; past it, emit
    assert not should_emit(8, 15, finished)
    assert should_emit(9, 15, finished)
    assert not should_emit(5, 3, finished) and should_emit(6, 3, finished)
    # a chunk not yet finished does not filter, nor does a key in no chunk
    assert should_emit(1, 25, finished)
    assert should_emit(1, None, finished)
    assert should_emit(1, 15, [])


def test_merge_backfill_upserts_chunk_keys_only():
    def log(i, tbl, op, before, after):
        enc = lambda img: None if img is None else json.dumps(img)  # noqa: E731
        return (i, tbl, op, enc(before), enc(after), 0)

    rows = [{"id": k, "v": f"r{k}"} for k in (10, 11, 12)]
    backfill = [
        log(1, "items", "u", {"id": 10, "v": "r10"}, {"id": 10, "v": "u10"}),
        log(2, "items", "d", {"id": 11, "v": "r11"}, None),
        log(3, "items", "d", {"id": 12, "v": "r12"}, None),
        log(4, "items", "c", None, {"id": 12, "v": "c12"}),
        # a key outside the chunk and another table's event are skipped
        log(5, "items", "c", None, {"id": 25, "v": "c25"}),
        log(6, "other", "c", None, {"id": 13, "v": "x13"}),
    ]
    envs = merge_backfill(rows, backfill, "items", "id", ChunkRange(10, 20), high=6)
    out = [json.loads(e) for e in envs]
    assert [e["after"] for e in out] == [
        {"id": 10, "v": "u10"},
        {"id": 12, "v": "c12"},
    ]
    for e in out:
        assert e["op"] == "r" and e["before"] is None
        assert e["source"]["pos"] == 6 and e["source"]["snapshot"] == "true"
        assert e["source"]["table"] == "items"


def test_uneven_quantile_split(spark):
    # non-contiguous key space like the reference's `customer` fixture
    # (ids 101..123, 1009..1019, 2000 — FIXTURES.md A5)
    keys = list(range(101, 124)) + list(range(1009, 1020)) + [2000]
    df = spark.createDataFrame([(k,) for k in keys], "id int")
    ranges = split_uneven_by_quantiles(df, "id", row_count=len(keys), chunk_size=10)
    assert ranges[0].start is None and ranges[-1].end is None
    assert len(ranges) >= 3
    # ranges must partition the key space: each key in exactly one
    for key in keys:
        assert sum(r.contains(key) for r in ranges) == 1


def test_plan_snapshot_chunks_dispatch(spark):
    # even path needs no DataFrame
    assert plan_snapshot_chunks(1, 100, 100, chunk_size=50) is not None
    # uneven path without key_df raises
    import pytest

    with pytest.raises(ValueError):
        plan_snapshot_chunks(0, 9_999_999, 100, chunk_size=10)


def test_choose_split_column():
    import pytest
    from pyspark.sql import types as T

    from flink_cdc_log_connectors_spark.sources.chunking import choose_split_column

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("payload", T.ArrayType(T.IntegerType())),
        ]
    )
    # first PK column wins, even for a composite key
    assert choose_split_column(schema, ["id", "name"]) == "id"
    assert choose_split_column(schema, ["name"]) == "name"
    with pytest.raises(ValueError, match="primary key"):
        choose_split_column(schema, [])
    with pytest.raises(ValueError, match="not in table schema"):
        choose_split_column(schema, ["missing"])
    with pytest.raises(ValueError, match="non-chunkable"):
        choose_split_column(schema, ["payload"])
    # scan.incremental.snapshot.chunk.key-column parity: the user override
    # wins, but only PK components are accepted
    assert (
        choose_split_column(schema, ["id", "name"], chunk_key_column="name")
        == "name"
    )
    with pytest.raises(ValueError, match="must be one of the primary key"):
        choose_split_column(schema, ["id"], chunk_key_column="name")

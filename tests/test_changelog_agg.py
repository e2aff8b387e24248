"""Incrementally-maintained GROUP BY view (streaming/aggregates.py):
count/sum/min/max stay correct under inserts, updates (including group
re-pointing), and deletes — the retract-aggregate semantics Flink SQL
gives reference users."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from flink_cdc_log_connectors_spark.sources.datasource import register
from flink_cdc_log_connectors_spark.streaming.aggregates import (
    ChangelogAggregate,
    materialize_aggregate,
)

ORDERS = T.StructType(
    [
        T.StructField("o_id", T.LongType()),
        T.StructField("cust_id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


def env(op, after=None, before=None, pos=0):
    return json.dumps(
        {
            "before": before,
            "after": after,
            "op": op,
            "ts_ms": 1000 + pos,
            "source": {"db": "d", "table": "orders", "ts_ms": 1000 + pos,
                       "file": "f.0", "pos": pos},
        }
    )


def raw_df(spark, lines):
    return spark.createDataFrame(
        [(v, "f.0", i) for i, v in enumerate(lines)],
        "value string, file string, pos long",
    )


def make_agg(tmp_path, name="a"):
    return ChangelogAggregate(
        "orders", ORDERS, key="o_id", group_cols=["cust_id"],
        output_path=str(tmp_path / name),
        sum_cols=["amount"], minmax_cols=["amount"],
    )


def view(spark, agg):
    df = agg.read_view(spark)
    if df is None:
        return {}
    return {
        r["cust_id"]: (r["cnt"], r["sum_amount"], r["min_amount"], r["max_amount"])
        for r in df.collect()
    }


def test_aggregate_view_under_all_change_shapes(spark, tmp_path):
    agg = make_agg(tmp_path)
    agg.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": 1, "amount": 7.0}, pos=1),
            env("c", {"o_id": 3, "cust_id": 2, "amount": 3.0}, pos=2),
        ]),
        epoch_id=0,
    )
    assert view(spark, agg) == {1: (2, 12.0, 5.0, 7.0), 2: (1, 3.0, 3.0, 3.0)}

    # update amount; min/max retraction needs recompute (5.0 was the min)
    agg.process_batch(
        raw_df(spark, [
            env("u", {"o_id": 1, "cust_id": 1, "amount": 20.0},
                before={"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=10),
        ]),
        epoch_id=1,
    )
    assert view(spark, agg) == {1: (2, 27.0, 7.0, 20.0), 2: (1, 3.0, 3.0, 3.0)}

    # group re-pointing: order 2 moves cust 1 → cust 2 (both groups move)
    agg.process_batch(
        raw_df(spark, [
            env("u", {"o_id": 2, "cust_id": 2, "amount": 7.0},
                before={"o_id": 2, "cust_id": 1, "amount": 7.0}, pos=20),
        ]),
        epoch_id=2,
    )
    assert view(spark, agg) == {1: (1, 20.0, 20.0, 20.0), 2: (2, 10.0, 3.0, 7.0)}

    # deletes empty a group → it leaves the view entirely
    agg.process_batch(
        raw_df(spark, [
            env("d", before={"o_id": 1, "cust_id": 1, "amount": 20.0}, pos=30),
        ]),
        epoch_id=3,
    )
    assert view(spark, agg) == {2: (2, 10.0, 3.0, 7.0)}


@pytest.mark.parametrize("seed", [3, 11])
def test_randomized_ops_match_naive_groupby(spark, tmp_path, seed):
    import random

    rng = random.Random(seed)
    agg = make_agg(tmp_path, f"r{seed}")
    facts: dict[int, tuple[int, float]] = {}
    pos = 0

    def gen():
        nonlocal pos
        pos += 1
        oid = rng.randint(1, 10)
        if oid in facts and rng.random() < 0.3:
            before = {"o_id": oid, "cust_id": facts[oid][0], "amount": facts[oid][1]}
            del facts[oid]
            return env("d", before=before, pos=pos)
        cid, amt = rng.randint(1, 4), float(rng.randint(1, 50))
        if oid in facts:
            before = {"o_id": oid, "cust_id": facts[oid][0], "amount": facts[oid][1]}
            facts[oid] = (cid, amt)
            return env("u", {"o_id": oid, "cust_id": cid, "amount": amt},
                       before=before, pos=pos)
        facts[oid] = (cid, amt)
        return env("c", {"o_id": oid, "cust_id": cid, "amount": amt}, pos=pos)

    for epoch in range(4):
        agg.process_batch(raw_df(spark, [gen() for _ in range(rng.randint(1, 8))]),
                          epoch_id=epoch)
        expected: dict[int, tuple] = {}
        for cid in {c for c, _ in facts.values()}:
            amts = [a for c, a in facts.values() if c == cid]
            expected[cid] = (len(amts), sum(amts), min(amts), max(amts))
        assert view(spark, agg) == expected, f"seed={seed} epoch={epoch}"


def test_streaming_end_to_end(spark, tmp_path):
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    with open(log_dir / "log-000001.jsonl", "w") as fh:
        fh.write(env("c", {"o_id": 1, "cust_id": 1, "amount": 4.0}, pos=0) + "\n")
        fh.write(env("c", {"o_id": 2, "cust_id": 1, "amount": 6.0}, pos=1) + "\n")
    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    raw = spark.readStream.format("cdclog").option("path", str(log_dir)).load()
    q = materialize_aggregate(
        raw, "orders", ORDERS, key="o_id", group_cols=["cust_id"],
        output_path=out, checkpoint_path=ckpt, sum_cols=["amount"],
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    agg = ChangelogAggregate("orders", ORDERS, "o_id", ["cust_id"], out,
                             sum_cols=["amount"])
    got = {r["cust_id"]: (r["cnt"], r["sum_amount"])
           for r in agg.read_view(spark).collect()}
    assert got == {1: (2, 10.0)}


def test_distinct_count_retracts_exactly(spark, tmp_path):
    """COUNT(DISTINCT amount) per group stays exact when an occurrence of
    a still-present value retracts (the case Flink needs per-value
    counted state for) and when the last occurrence leaves."""
    agg = ChangelogAggregate(
        "orders", ORDERS, key="o_id", group_cols=["cust_id"],
        output_path=str(tmp_path / "dc"), distinct_cols=["amount"],
    )
    agg.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": 1, "amount": 5.0}, pos=1),
            env("c", {"o_id": 3, "cust_id": 1, "amount": 7.0}, pos=2),
        ]),
        epoch_id=0,
    )

    def dcnt():
        df = agg.read_view(spark)
        return {r["cust_id"]: r["dcnt_amount"] for r in df.collect()}

    assert dcnt() == {1: 2}  # {5.0, 7.0}

    # delete ONE of the two 5.0 rows: 5.0 is still present → count stays 2
    agg.process_batch(
        raw_df(spark, [
            env("d", None,
                before={"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=10),
        ]),
        epoch_id=1,
    )
    assert dcnt() == {1: 2}

    # delete the LAST 5.0 row: value leaves → count drops to 1
    agg.process_batch(
        raw_df(spark, [
            env("d", None,
                before={"o_id": 2, "cust_id": 1, "amount": 5.0}, pos=20),
        ]),
        epoch_id=2,
    )
    assert dcnt() == {1: 1}


def test_continuous_aggregate_time_bucket_view(spark, tmp_path):
    """TimescaleDB-style continuous aggregate maintained by the CDC
    stream: the view groups on a DERIVED hourly bucket of the fact's own
    timestamp (the `derive` hook).  An update that moves a fact across
    buckets retracts from the old bucket and lands in the new one; a
    bucket emptied by a delete leaves the view."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    METRICS = T.StructType(
        [
            T.StructField("m_id", T.LongType()),
            T.StructField("ts_s", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def derive(df):
        return df.withColumn(
            "bucket", (F.col("ts_s") - F.pmod(F.col("ts_s"), F.lit(3600)))
        )

    agg = ChangelogAggregate(
        "metrics", METRICS, key="m_id", group_cols=["bucket"],
        output_path=str(tmp_path / "ca"), sum_cols=["v"], derive=derive,
    )

    def menv(op, after=None, before=None, pos=0):
        import json as _json

        return _json.dumps(
            {
                "before": before, "after": after, "op": op,
                "ts_ms": 1000 + pos,
                "source": {"db": "d", "table": "metrics", "ts_ms": 1000 + pos,
                           "file": "f.0", "pos": pos},
            }
        )

    def cview():
        df = agg.read_view(spark)
        if df is None:
            return {}
        return {r["bucket"]: (r["cnt"], r["sum_v"]) for r in df.collect()}

    agg.process_batch(
        raw_df(spark, [
            menv("c", {"m_id": 1, "ts_s": 100, "v": 5.0}, pos=0),
            menv("c", {"m_id": 2, "ts_s": 200, "v": 7.0}, pos=1),
            menv("c", {"m_id": 3, "ts_s": 4000, "v": 3.0}, pos=2),
        ]),
        epoch_id=0,
    )
    assert cview() == {0: (2, 12.0), 3600: (1, 3.0)}

    # cross-bucket move: m_id=2's timestamp shifts into hour 2
    agg.process_batch(
        raw_df(spark, [
            menv("u", {"m_id": 2, "ts_s": 7300, "v": 7.0},
                 before={"m_id": 2, "ts_s": 200, "v": 7.0}, pos=3),
        ]),
        epoch_id=1,
    )
    assert cview() == {0: (1, 5.0), 3600: (1, 3.0), 7200: (1, 7.0)}

    # delete empties hour 1 → its bucket row tombstones out of the view
    agg.process_batch(
        raw_df(spark, [
            menv("d", before={"m_id": 3, "ts_s": 4000, "v": 3.0}, pos=4),
        ]),
        epoch_id=2,
    )
    assert cview() == {0: (1, 5.0), 7200: (1, 7.0)}


def test_aggregate_null_group_is_a_real_group(spark, tmp_path):
    """REGRESSION (r6): GROUP BY keeps a NULL group, so the maintained
    view must too.  The pre-fix touched-group semi/anti joins were
    null-UNSAFE: rows with a NULL group column silently vanished from
    the view (and the anti-join tombstoned the group every batch)."""
    agg = make_agg(tmp_path, "nullgrp")
    agg.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": None, "amount": 5.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": 7, "amount": 3.0}, pos=1),
            env("c", {"o_id": 3, "cust_id": None, "amount": 2.0}, pos=2),
        ]),
        epoch_id=0,
    )
    got = view(spark, agg)
    assert got[None][:2] == (2, 7.0)
    assert got[7][:2] == (1, 3.0)
    # updating a NULL-group row re-points it: NULL group retracts to 1 row
    agg.process_batch(
        raw_df(spark, [
            env("u", {"o_id": 1, "cust_id": 7, "amount": 5.0},
                before={"o_id": 1, "cust_id": None, "amount": 5.0}, pos=3),
        ]),
        epoch_id=1,
    )
    got = view(spark, agg)
    assert got[None][:2] == (1, 2.0)
    assert got[7][:2] == (2, 8.0)
    # deleting the last NULL-group row tombstones the NULL group
    agg.process_batch(
        raw_df(spark, [
            env("d", before={"o_id": 3, "cust_id": None, "amount": 2.0}, pos=4),
        ]),
        epoch_id=2,
    )
    got = view(spark, agg)
    assert None not in got and got[7][:2] == (2, 8.0)


# -- event-time state TTL (Flink table.exec.state.ttl, deterministic) -------

ORDERS_TS = T.StructType(
    [
        T.StructField("o_id", T.LongType()),
        T.StructField("cust_id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("ets", T.LongType()),
    ]
)


def make_ttl_agg(tmp_path, ttl=100, name="ttl"):
    return ChangelogAggregate(
        "orders", ORDERS_TS, key="o_id", group_cols=["cust_id"],
        output_path=str(tmp_path / name),
        sum_cols=["amount"], minmax_cols=["amount"],
        ttl=ttl, ttl_col="ets", n_buckets=8,
    )


def _row(o, c, a, ets):
    return {"o_id": o, "cust_id": c, "amount": a, "ets": ets}


def test_ttl_expires_facts_and_retracts_view(spark, tmp_path):
    agg = make_ttl_agg(tmp_path)
    # epoch 0: no prior watermark, nothing can expire
    agg.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 5.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
            env("c", _row(3, 2, 3.0, 150), pos=2),
        ]),
        epoch_id=0,
    )
    assert view(spark, agg) == {1: (2, 12.0, 5.0, 7.0), 2: (1, 3.0, 3.0, 3.0)}
    assert agg._ttl_proto.load_wm() == 1000

    # epoch 1: cutoff = 1000 - 100 = 900 -> o1 (ets 100) and o3 (ets 150)
    # expire; cust 2's group empties out of the view entirely
    agg.process_batch(
        raw_df(spark, [env("c", _row(4, 3, 2.0, 1100), pos=10)]),
        epoch_id=1,
    )
    assert view(spark, agg) == {1: (1, 7.0, 7.0, 7.0), 3: (1, 2.0, 2.0, 2.0)}

    # final expiry-only pass: wm 1100 -> cutoff 1000 ages out o2 (ets 1000)
    agg.expire(spark, epoch_id=2)
    assert view(spark, agg) == {3: (1, 2.0, 2.0, 2.0)}
    # stage dirs are GC'd after each committed pass
    import os
    assert not os.path.isdir(str(tmp_path / "ttl" / "view" / "__ttl_syn")) or \
        os.listdir(str(tmp_path / "ttl" / "view" / "__ttl_syn")) == []


def test_ttl_same_epoch_update_supersedes_expiry(spark, tmp_path):
    agg = make_ttl_agg(tmp_path)
    agg.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 5.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
        ]),
        epoch_id=0,
    )
    # o1 is an expiry candidate (cutoff 900) AND updated in the same
    # batch: the genuine image outranks the synthesized retraction
    agg.process_batch(
        raw_df(spark, [
            env("u", _row(1, 1, 9.0, 1200), before=_row(1, 1, 5.0, 100),
                pos=10),
        ]),
        epoch_id=1,
    )
    assert view(spark, agg) == {1: (2, 16.0, 7.0, 9.0)}
    # wm 1200 -> cutoff 1100: o2 ages out, refreshed o1 survives
    agg.expire(spark, epoch_id=2)
    assert view(spark, agg) == {1: (1, 9.0, 9.0, 9.0)}


def test_ttl_crash_between_state_and_view_commits_converges(spark, tmp_path):
    agg = make_ttl_agg(tmp_path)
    agg.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 5.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
            env("c", _row(3, 2, 3.0, 150), pos=2),
        ]),
        epoch_id=0,
    )
    batch = raw_df(spark, [env("c", _row(4, 3, 2.0, 1100), pos=10)])
    # crash AFTER the fact-state deletions commit but BEFORE the view
    # upsert: without the staged expiry decision a retry would re-derive
    # candidates from a state they are already gone from and the view
    # would keep cust 2 forever
    orig = agg.output.upsert
    def boom(*a, **k):
        raise RuntimeError("injected crash")
    agg.output.upsert = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        agg.process_batch(batch, epoch_id=1)
    agg.output.upsert = orig
    agg.process_batch(batch, epoch_id=1)  # same-epoch retry
    assert view(spark, agg) == {1: (1, 7.0, 7.0, 7.0), 3: (1, 2.0, 2.0, 2.0)}


def test_ttl_duplicate_delivery_is_idempotent(spark, tmp_path):
    agg = make_ttl_agg(tmp_path)
    agg.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 5.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
        ]),
        epoch_id=0,
    )
    batch = raw_df(spark, [env("c", _row(4, 3, 2.0, 1000), pos=10)])
    agg.process_batch(batch, epoch_id=1)  # expires o1; wm stays 1000
    expected = {1: (1, 7.0, 7.0, 7.0), 3: (1, 2.0, 2.0, 2.0)}
    assert view(spark, agg) == expected
    # at-least-once re-delivery of the fully-committed epoch: the
    # committed-bucket union keeps the epoch-reuse guards satisfied and
    # the merge converges to the same view
    agg.process_batch(batch, epoch_id=1)
    assert view(spark, agg) == expected


def test_ttl_bounds_prune_the_expiry_scan(spark, tmp_path):
    agg = make_ttl_agg(tmp_path)
    agg.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 5.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
        ]),
        epoch_id=0,
    )
    agg.process_batch(
        raw_df(spark, [env("c", _row(4, 3, 2.0, 1000), pos=10)]),
        epoch_id=1,
    )
    # every surviving fact's ts > cutoff (900), so every stored bucket's
    # bound must now sit above it: the next epoch's expiry scan reads
    # ZERO buckets
    bounds = agg._ttl_proto.load_bounds()
    assert bounds and all(v > 900 for v in bounds.values())
    exp, _cutoff, syn = agg._ttl_proto.stage(spark, epoch_id=2)
    assert exp == [] and syn is None


def test_ttl_preexisting_dir_facts_still_expire(spark, tmp_path):
    """REGRESSION (ADVICE r9): TTL enabled on a PRE-EXISTING state dir.
    The first TTL epoch runs before any watermark is stored (no expiry
    scan), so ``finalize`` used to seed the batch minimum as the bucket
    bound — sealing OLDER pre-existing facts in the same bucket out of
    every future expiry scan: they never expired.  A bound may only be
    seeded for a bucket that was provably empty before the epoch."""
    # epoch 0: a plain (no-TTL) aggregate commits an OLD fact (ets 100)
    plain = ChangelogAggregate(
        "orders", ORDERS_TS, key="o_id", group_cols=["cust_id"],
        output_path=str(tmp_path / "pre"),
        sum_cols=["amount"], minmax_cols=["amount"], n_buckets=8,
    )
    plain.process_batch(
        raw_df(spark, [env("c", _row(1, 1, 5.0, 100), pos=0)]), epoch_id=0
    )
    # TTL enabled on the same dir; epoch 1 lands a FRESH fact in the
    # SAME group bucket (cust 1).  No watermark existed when the epoch
    # started, so nothing can expire yet — and no bound may be seeded
    # for cust 1's bucket either (it held the old fact already)
    agg = ChangelogAggregate(
        "orders", ORDERS_TS, key="o_id", group_cols=["cust_id"],
        output_path=str(tmp_path / "pre"),
        sum_cols=["amount"], minmax_cols=["amount"],
        ttl=100, ttl_col="ets", n_buckets=8,
    )
    agg.process_batch(
        raw_df(spark, [env("c", _row(4, 1, 2.0, 2000), pos=10)]), epoch_id=1
    )
    assert agg._ttl_proto.load_bounds() == {}, (
        "no bucket live before the epoch may receive a seeded bound"
    )
    assert view(spark, agg) == {1: (2, 7.0, 2.0, 5.0)}
    # epoch 2: cutoff = 2000 - 100 = 1900 ≥ 100 — the unbounded bucket
    # is scanned and the pre-existing fact finally expires (under the
    # pre-fix seeding, the bucket's bound was 2000 > 1900: skipped, and
    # o1 would have survived every scan forever)
    agg.process_batch(
        raw_df(spark, [env("c", _row(5, 2, 3.0, 2100), pos=20)]), epoch_id=2
    )
    assert view(spark, agg) == {1: (1, 2.0, 2.0, 2.0), 2: (1, 3.0, 3.0, 3.0)}


def test_expire_refuses_recycled_epoch_id(spark, tmp_path):
    """REGRESSION (ADVICE r9): an ``expire()`` under a recycled epoch id
    would stamp its synthesized retractions below later-epoch stored
    rows (silent no-op in the changelog merge) while still raising the
    expiry bounds past the surviving facts — permanently sealing them
    out of every future scan.  It must raise instead."""
    agg = make_ttl_agg(tmp_path)
    agg.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 5.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
        ]),
        epoch_id=0,
    )
    agg.process_batch(
        raw_df(spark, [env("c", _row(4, 3, 2.0, 1100), pos=10)]), epoch_id=1
    )
    for recycled in (0, 1):
        with pytest.raises(ValueError, match="FRESH epoch id"):
            agg.expire(spark, epoch_id=recycled)
    agg.expire(spark, epoch_id=2)  # strictly fresh: accepted
    assert view(spark, agg) == {3: (1, 2.0, 2.0, 2.0)}


def test_max_committed_epoch_covers_upsert_and_append_manifests(tmp_path):
    """Unit pin for the guard's epoch derivation: upsert manifests map
    bucket → int epoch, append manifests map bucket → version LIST with
    reserved ``__``-keys — both shapes must be read; reserved keys are
    skipped EXCEPT ``__folded_max``, which is folded into the max
    (ADVICE r10: a compacted append-managed table's loose versions
    understate its true committed max — epochs folded into ``c<id>``
    versions are only visible through the watermark)."""
    import os

    from flink_cdc_log_connectors_spark.streaming.ttl import (
        check_expire_epoch,
        max_committed_epoch,
    )
    from flink_cdc_log_connectors_spark.streaming.statetable import (
        PartitionedStateTable,
    )

    up = PartitionedStateTable(str(tmp_path / "up"), ["k"])
    ap = PartitionedStateTable(str(tmp_path / "ap"), ["k"])
    assert max_committed_epoch(up, ap) is None
    check_expire_epoch(0, up, ap)  # empty tables: any id is fresh
    os.makedirs(up.path, exist_ok=True)
    with open(up._manifest_path(), "w") as f:
        json.dump({"0": 3, "5": 1}, f)
    os.makedirs(ap.path, exist_ok=True)
    with open(ap._manifest_path(), "w") as f:
        json.dump(
            {"2": [0, 7], "__compacted_epochs": [97, 98], "__folded_max": 98},
            f,
        )
    assert max_committed_epoch(up) == 3
    # the folded watermark (98) outranks the loose versions (7): a
    # recycled id anywhere at or below it must be refused
    assert max_committed_epoch(up, ap) == 98
    with pytest.raises(ValueError, match="FRESH epoch id"):
        check_expire_epoch(7, up, ap)
    with pytest.raises(ValueError, match="FRESH epoch id"):
        check_expire_epoch(98, up, ap)
    check_expire_epoch(99, up, ap)


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_ttl_randomized_ops_match_windowed_groupby(spark, tmp_path, seed):
    """Randomized op interleavings under event-time TTL: after a final
    expire() pass, the view must equal GROUP BY over the live facts whose
    latest version's event time is inside the retention window at the
    final watermark — mid-stream expiry is a prefix of that predicate
    (watermarks only grow), so WHEN a fact expired must not matter."""
    import random

    rng = random.Random(seed)
    ttl = 40
    agg = ChangelogAggregate(
        "orders", ORDERS_TS, key="o_id", group_cols=["cust_id"],
        output_path=str(tmp_path / f"rt{seed}"),
        sum_cols=["amount"], minmax_cols=["amount"],
        ttl=ttl, ttl_col="ets", n_buckets=8,
    )
    facts: dict[int, tuple[int, float, int]] = {}
    pos = 0
    wm = 0

    def gen():
        nonlocal pos, wm
        pos += 1
        oid = rng.randint(1, 10)
        if oid in facts and rng.random() < 0.3:
            c0, a0, t0 = facts[oid]
            del facts[oid]
            return env("d", before=_row(oid, c0, a0, t0), pos=pos)
        cid, amt = rng.randint(1, 4), float(rng.randint(1, 50))
        # event times jump around (late data) but trend upward
        ets = rng.randint(max(0, wm - 30), wm + 15)
        wm = max(wm, ets)
        if oid in facts:
            c0, a0, t0 = facts[oid]
            facts[oid] = (cid, amt, ets)
            return env("u", _row(oid, cid, amt, ets),
                       before=_row(oid, c0, a0, t0), pos=pos)
        facts[oid] = (cid, amt, ets)
        return env("c", _row(oid, cid, amt, ets), pos=pos)

    for epoch in range(5):
        agg.process_batch(
            raw_df(spark, [gen() for _ in range(rng.randint(1, 8))]),
            epoch_id=epoch,
        )
    agg.expire(spark, epoch_id=5)
    cutoff = wm - ttl
    in_window = {
        oid: (c, a) for oid, (c, a, t) in facts.items() if t > cutoff
    }
    expected: dict[int, tuple] = {}
    for cid in {c for c, _ in in_window.values()}:
        amts = [a for c, a in in_window.values() if c == cid]
        expected[cid] = (len(amts), sum(amts), min(amts), max(amts))
    assert view(spark, agg) == expected, f"seed={seed}"

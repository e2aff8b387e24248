"""Incrementally-maintained Top-N view (streaming/topn.py): the Flink SQL
Top-N pattern stays correct under inserts, rank churn, partition
re-pointing, deletes, shrink-below-N, and replayed epochs."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from flink_cdc_log_connectors_spark.streaming.topn import ChangelogTopN

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


def make_topn(tmp_path, n=2, partition_cols=("cust_id",), name="t"):
    return ChangelogTopN(
        "orders", ORDERS, key="o_id", partition_cols=list(partition_cols),
        order_col="amount", n=n, output_path=str(tmp_path / name),
    )


def view(spark, topn):
    df = topn.read_view(spark)
    if df is None:
        return {}
    out = {}
    for r in df.collect():
        p = r["cust_id"] if "cust_id" in df.columns else None
        out[(p, r["rn"])] = (r["o_id"], r["amount"])
    return out


def test_topn_under_all_change_shapes(spark, tmp_path):
    t = make_topn(tmp_path)
    t.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": 1, "amount": 7.0}, pos=1),
            env("c", {"o_id": 3, "cust_id": 1, "amount": 3.0}, pos=2),
            env("c", {"o_id": 4, "cust_id": 2, "amount": 9.0}, pos=3),
        ]),
        epoch_id=0,
    )
    # cust 1 keeps top-2 of {5,7,3} = [7,5]; cust 2 has one row
    assert view(spark, t) == {
        (1, 1): (2, 7.0), (1, 2): (1, 5.0), (2, 1): (4, 9.0),
    }

    # rank churn: the evicted row (amount 3) re-enters when the leader
    # drops out of the top — the case pure delta maintenance gets wrong
    t.process_batch(
        raw_df(spark, [
            env("u", {"o_id": 2, "cust_id": 1, "amount": 1.0},
                before={"o_id": 2, "cust_id": 1, "amount": 7.0}, pos=10),
        ]),
        epoch_id=1,
    )
    assert view(spark, t) == {
        (1, 1): (1, 5.0), (1, 2): (3, 3.0), (2, 1): (4, 9.0),
    }

    # partition re-pointing: order 1 moves cust 1 → cust 2; both sides'
    # rankings rebuild (cust 1 shrinks, cust 2 gains a second row)
    t.process_batch(
        raw_df(spark, [
            env("u", {"o_id": 1, "cust_id": 2, "amount": 5.0},
                before={"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=20),
        ]),
        epoch_id=2,
    )
    assert view(spark, t) == {
        (1, 1): (3, 3.0), (1, 2): (2, 1.0),
        (2, 1): (4, 9.0), (2, 2): (1, 5.0),
    }

    # deletes: cust 1 loses both rows → its rank slots tombstone away
    t.process_batch(
        raw_df(spark, [
            env("d", None,
                before={"o_id": 2, "cust_id": 1, "amount": 1.0}, pos=30),
            env("d", None,
                before={"o_id": 3, "cust_id": 1, "amount": 3.0}, pos=31),
        ]),
        epoch_id=3,
    )
    assert view(spark, t) == {(2, 1): (4, 9.0), (2, 2): (1, 5.0)}


def test_topn_ties_break_on_key(spark, tmp_path):
    t = make_topn(tmp_path, n=2)
    t.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 9, "cust_id": 1, "amount": 4.0}, pos=0),
            env("c", {"o_id": 5, "cust_id": 1, "amount": 4.0}, pos=1),
            env("c", {"o_id": 7, "cust_id": 1, "amount": 4.0}, pos=2),
        ]),
        epoch_id=0,
    )
    # equal amounts: ascending key breaks ties → ids 5 then 7
    assert view(spark, t) == {(1, 1): (5, 4.0), (1, 2): (7, 4.0)}


def test_topn_global_partition(spark, tmp_path):
    t = make_topn(tmp_path, n=2, partition_cols=())
    t.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": 2, "amount": 7.0}, pos=1),
            env("c", {"o_id": 3, "cust_id": 3, "amount": 6.0}, pos=2),
        ]),
        epoch_id=0,
    )
    got = {r["rn"]: r["o_id"] for r in t.read_view(spark).collect()}
    assert got == {1: 2, 2: 3}


def test_topn_replayed_epoch_idempotent(spark, tmp_path):
    t = make_topn(tmp_path)
    batch = raw_df(spark, [
        env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
        env("c", {"o_id": 2, "cust_id": 1, "amount": 7.0}, pos=1),
    ])
    t.process_batch(batch, epoch_id=0)
    before = view(spark, t)
    # Structured Streaming retries re-deliver the same epoch
    t.process_batch(batch, epoch_id=0)
    assert view(spark, t) == before


def test_topn_recycled_epoch_with_other_bucket_is_refused(spark, tmp_path):
    """A consumer without TTL must not widen its touched sets with the
    buckets an epoch already committed: a recycled epoch id carrying a
    group in ANOTHER fact bucket has to hit the state table's
    epoch-reuse guard instead of silently rewriting epoch 0's buckets."""
    from pyspark.sql import functions as F

    t = make_topn(tmp_path)
    buckets = dict(
        spark.createDataFrame([(c,) for c in range(1, 20)], "cust_id long")
        .select("cust_id", t.fact_state.bucket_for(F.col("cust_id")))
        .collect()
    )
    other = next(c for c in range(2, 20) if buckets[c] != buckets[1])
    t.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
        ]),
        epoch_id=0,
    )
    with pytest.raises(ValueError, match="fresh epoch id"):
        t.process_batch(
            raw_df(spark, [
                env("c", {"o_id": 2, "cust_id": other, "amount": 7.0}, pos=0),
            ]),
            epoch_id=0,
        )


def test_topn_ascending_bottom_n(spark, tmp_path):
    t = ChangelogTopN(
        "orders", ORDERS, key="o_id", partition_cols=["cust_id"],
        order_col="amount", n=1, output_path=str(tmp_path / "b"),
        descending=False,
    )
    t.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": 1, "amount": 3.0}, pos=1),
        ]),
        epoch_id=0,
    )
    assert view(spark, t) == {(1, 1): (2, 3.0)}


@pytest.mark.parametrize("seed", [3, 11])
def test_randomized_ops_match_naive_topn(spark, tmp_path, seed):
    """Randomized c/u/d interleavings across random batch boundaries: the
    maintained view must equal a naive dict-replay top-N after every
    batch (the invariant, not an example)."""
    import random

    rng = random.Random(seed)
    n = 2
    t = make_topn(tmp_path, n=n, name=f"r{seed}")
    orders: dict[int, tuple[int, float]] = {}  # o_id -> (cust, amount)
    pos = 0

    def gen_op():
        nonlocal pos
        pos += 1
        oid = rng.randint(1, 10)
        if oid in orders and rng.random() < 0.3:
            before = {"o_id": oid, "cust_id": orders[oid][0],
                      "amount": orders[oid][1]}
            del orders[oid]
            return env("d", None, before=before, pos=pos)
        before = None
        op = "c"
        if oid in orders:
            op = "u"
            before = {"o_id": oid, "cust_id": orders[oid][0],
                      "amount": orders[oid][1]}
        cid = rng.randint(1, 4)
        amt = float(rng.randint(1, 50))
        orders[oid] = (cid, amt)
        return env(op, {"o_id": oid, "cust_id": cid, "amount": amt},
                   before=before, pos=pos)

    def naive_view():
        out = {}
        by_cust: dict[int, list[tuple[int, float]]] = {}
        for oid, (cid, amt) in orders.items():
            by_cust.setdefault(cid, []).append((oid, amt))
        for cid, rows in by_cust.items():
            rows.sort(key=lambda r: (-r[1], r[0]))
            for rn, (oid, amt) in enumerate(rows[:n], start=1):
                out[(cid, rn)] = (oid, amt)
        return out

    for epoch in range(5):
        batch = [gen_op() for _ in range(rng.randint(1, 6))]
        t.process_batch(raw_df(spark, batch), epoch_id=epoch)
        assert view(spark, t) == naive_view(), f"seed={seed} epoch={epoch}"


def test_topn_view_exposes_only_declared_columns(spark, tmp_path):
    """No internal CDC metadata (_off_*, op, _src, __*) may leak into the
    public view — the contract the sibling JOIN/GROUP BY views keep."""
    t = make_topn(tmp_path, name="cols")
    t.process_batch(
        raw_df(spark, [env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0})]),
        epoch_id=0,
    )
    assert t.read_view(spark).columns == ["cust_id", "rn", "o_id", "amount"]


def test_topn_schema_widening_mid_stream(spark, tmp_path):
    """L6 widen policy flowing through a maintained view: after the
    upstream table gains a column, a view re-created with the widened
    physical schema keeps all prior state (old rows carry NULL for the
    new column) and ranks new events normally."""
    t = make_topn(tmp_path, name="widen")
    t.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": 1, "amount": 5.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": 1, "amount": 7.0}, pos=1),
        ]),
        epoch_id=0,
    )
    wide = T.StructType(
        [*ORDERS.fields, T.StructField("region", T.StringType())]
    )
    t2 = ChangelogTopN(
        "orders", wide, key="o_id", partition_cols=["cust_id"],
        order_col="amount", n=2, output_path=str(tmp_path / "widen"),
    )
    t2.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 3, "cust_id": 1, "amount": 9.0,
                      "region": "eu"}, pos=10),
        ]),
        epoch_id=1,
    )
    got = {r["o_id"]: (r["rn"], r["region"])
           for r in t2.read_view(spark).collect()}
    # new leader carries the new column; displaced old row keeps NULL
    assert got == {3: (1, "eu"), 2: (2, None)}


def test_topn_null_partition_is_a_real_partition(spark, tmp_path):
    """REGRESSION (r6): a NULL partition value is a real Top-N partition
    (GROUP BY semantics); the pre-fix null-unsafe touched-partition
    joins dropped its rows from the view and emitted full tombstones."""
    topn = make_topn(tmp_path, n=2, name="nullpart")
    topn.process_batch(
        raw_df(spark, [
            env("c", {"o_id": 1, "cust_id": None, "amount": 9.0}, pos=0),
            env("c", {"o_id": 2, "cust_id": None, "amount": 7.0}, pos=1),
            env("c", {"o_id": 3, "cust_id": None, "amount": 8.0}, pos=2),
            env("c", {"o_id": 4, "cust_id": 5, "amount": 1.0}, pos=3),
        ]),
        epoch_id=0,
    )
    df = topn.read_view(spark)
    got = {(r["cust_id"], r["rn"]): r["o_id"] for r in df.collect()}
    assert got[(None, 1)] == 1 and got[(None, 2)] == 3  # 9.0, 8.0
    assert got[(5, 1)] == 4
    # deleting the NULL partition's top row promotes the runner-up
    topn.process_batch(
        raw_df(spark, [
            env("d", before={"o_id": 1, "cust_id": None, "amount": 9.0}, pos=4),
        ]),
        epoch_id=1,
    )
    got = {(r["cust_id"], r["rn"]): r["o_id"]
           for r in topn.read_view(spark).collect()}
    assert got[(None, 1)] == 3 and got[(None, 2)] == 2


# -- event-time state TTL ----------------------------------------------------

ORDERS_TS = T.StructType(
    [
        T.StructField("o_id", T.LongType()),
        T.StructField("cust_id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("ets", T.LongType()),
    ]
)


def _row(o, c, a, ets):
    return {"o_id": o, "cust_id": c, "amount": a, "ets": ets}


def make_ttl_topn(tmp_path, n=2, partition_cols=("cust_id",), name="tt"):
    return ChangelogTopN(
        "orders", ORDERS_TS, key="o_id", partition_cols=list(partition_cols),
        order_col="amount", n=n, output_path=str(tmp_path / name),
        n_buckets=8, ttl=100, ttl_col="ets",
    )


def test_ttl_expiry_promotes_ranks_and_tombstones(spark, tmp_path):
    topn = make_ttl_topn(tmp_path)
    topn.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 9.0, 100), pos=0),   # rank 1 of cust 1
            env("c", _row(2, 1, 7.0, 1000), pos=1),  # rank 2
            env("c", _row(3, 1, 5.0, 1000), pos=2),  # below N
            env("c", _row(4, 2, 3.0, 150), pos=3),   # cust 2's only row
        ]),
        epoch_id=0,
    )
    assert view(spark, topn) == {
        (1, 1): (1, 9.0), (1, 2): (2, 7.0), (2, 1): (4, 3.0),
    }
    # epoch 1: cutoff = 1000 - 100 = 900 expires o1 (rank 1!) and o4:
    # o2/o3 must PROMOTE, cust 2's partition must vanish entirely
    topn.process_batch(
        raw_df(spark, [env("c", _row(5, 3, 2.0, 1100), pos=10)]),
        epoch_id=1,
    )
    assert topn.expired_applied == 2
    assert view(spark, topn) == {
        (1, 1): (2, 7.0), (1, 2): (3, 5.0), (3, 1): (5, 2.0),
    }
    # final pass: wm 1100 -> cutoff 1000 expires o2 and o3
    topn.expire(spark, epoch_id=2)
    assert view(spark, topn) == {(3, 1): (5, 2.0)}


def test_ttl_global_topn_expires(spark, tmp_path):
    topn = ChangelogTopN(
        "orders", ORDERS_TS, key="o_id", partition_cols=[],
        order_col="amount", n=2, output_path=str(tmp_path / "g"),
        n_buckets=8, ttl=100, ttl_col="ets",
    )
    topn.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 9.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
            env("c", _row(3, 2, 5.0, 1000), pos=2),
        ]),
        epoch_id=0,
    )
    topn.process_batch(
        raw_df(spark, [env("c", _row(5, 3, 2.0, 1050), pos=10)]),
        epoch_id=1,
    )
    # o1 (ets 100) expired at cutoff 900; ranks promote globally
    df = topn.read_view(spark)
    got = {(r["rn"]): (r["o_id"], r["amount"]) for r in df.collect()}
    assert got == {1: (2, 7.0), 2: (3, 5.0)}


def test_ttl_crash_retry_converges_topn(spark, tmp_path):
    topn = make_ttl_topn(tmp_path, name="tc")
    topn.process_batch(
        raw_df(spark, [
            env("c", _row(1, 1, 9.0, 100), pos=0),
            env("c", _row(2, 1, 7.0, 1000), pos=1),
        ]),
        epoch_id=0,
    )
    batch = raw_df(spark, [env("c", _row(5, 3, 2.0, 1000), pos=10)])
    orig = topn.output.upsert
    def boom(*a, **k):
        raise RuntimeError("injected crash")
    topn.output.upsert = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        topn.process_batch(batch, epoch_id=1)
    topn.output.upsert = orig
    topn.process_batch(batch, epoch_id=1)  # same-epoch retry
    expected = {(1, 1): (2, 7.0), (3, 1): (5, 2.0)}
    assert view(spark, topn) == expected
    # duplicate delivery of the fully-committed epoch converges too
    topn.process_batch(batch, epoch_id=1)
    assert view(spark, topn) == expected

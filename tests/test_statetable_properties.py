"""Property tests for the r7 state-table additions: append-only commits,
compaction, and the bucket hash that history-read pruning rests on.

The temporal join's bucket-pruned emit (``read_buckets`` over
``bucket_for`` of the probe keys) is only sound if (a) append() places
every row in exactly the bucket ``bucket_for`` computes for its key, and
(b) compact() is a pure re-layout (same rows, same epoch stamps).  Both
are asserted here against a plain dict/list model for arbitrary op
sequences — the same dict-replay discipline as ``test_properties.py``.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_cdc_log_connectors_spark.streaming.statetable import (
    PartitionedStateTable,
    fold_schema,
)

#: op sequence: each element is one epoch's batch of (key, value) rows,
#: with an occasional compaction interleaved (None marks "compact here")
_BATCH = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(0, 9)), min_size=0, max_size=6
)
_SEQ = st.lists(
    st.one_of(_BATCH, st.none()), min_size=1, max_size=6
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, f"v{v}") for k, v in rows], "k long, v string"
    )


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seq=_SEQ)
def test_append_compact_equals_list_model(spark, tmp_path_factory, seq):
    """Any interleaving of appends and compacts reads back exactly the
    accumulated (key, value, epoch) multiset of the list model."""
    root = tmp_path_factory.mktemp("prop")
    t = PartitionedStateTable(str(root / "t"), ["k"], n_buckets=4)
    model: list[tuple[int, str, int]] = []
    epoch = 0
    for step in seq:
        if step is None:
            if model:
                epoch += 1
                t.compact(spark, epoch_id=epoch)
            continue
        t.append(_df(spark, step), epoch_id=epoch)
        model.extend((k, f"v{v}", epoch) for k, v in step)
        epoch += 1
    got = (
        []
        if t.read(spark) is None
        else [
            (r["k"], r["v"], r["__epoch"]) for r in t.read(spark).collect()
        ]
    )
    assert sorted(got) == sorted(model)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(st.integers(-1000, 1000), min_size=1, max_size=20))
def test_bucket_for_agrees_with_append_placement(
    spark, tmp_path_factory, rows
):
    """Every appended row is readable through read_buckets of EXACTLY the
    bucket bucket_for assigns its key — the invariant the temporal
    join's pruned history read relies on."""
    root = tmp_path_factory.mktemp("bprop")
    t = PartitionedStateTable(str(root / "t"), ["k"], n_buckets=8)
    t.append(
        spark.createDataFrame([(k,) for k in rows], "k long"), epoch_id=0
    )
    buckets = {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in set(rows)], "k long")
        .select("k", t.bucket_for(F.col("k")).alias("b"))
        .collect()
    }
    for k, b in buckets.items():
        got = t.read_buckets(spark, [b])
        assert got is not None and k in {r["k"] for r in got.collect()}
        other = [x for x in range(8) if x != b]
        rest = t.read_buckets(spark, other)
        if rest is not None:
            assert k not in {r["k"] for r in rest.collect()}


# -- r8: the auto-compaction POLICY + the pre-write misuse guards ----------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seq=st.lists(_BATCH, min_size=2, max_size=6),
    k=st.integers(1, 3),
)
def test_maybe_compact_policy_bounds_version_lists(
    spark, tmp_path_factory, seq, k
):
    """append + maybe_compact(k) per epoch keeps EVERY bucket's version
    list ≤ k (the steady-state invariant VERDICT r7 demanded a wired
    policy for) while reading back exactly the list model."""
    root = tmp_path_factory.mktemp("pol")
    t = PartitionedStateTable(str(root / "t"), ["k"], n_buckets=4)
    model: list[tuple[int, str, int]] = []
    for epoch, step in enumerate(seq):
        t.append(_df(spark, step), epoch_id=epoch)
        model.extend((key, f"v{v}", epoch) for key, v in step)
        t.maybe_compact(spark, k)
        lens = [
            len(v)
            for b, v in t.load_manifest().items()
            if not b.startswith("__")
        ]
        assert all(n <= k for n in lens)
    got = (
        []
        if t.read(spark) is None
        else [
            (r["k"], r["v"], r["__epoch"]) for r in t.read(spark).collect()
        ]
    )
    assert sorted(got) == sorted(model)


def test_maybe_compact_draws_fresh_ids_past_manual_compacts(spark, tmp_path):
    """The policy's version ids come from the manifest's monotone counter,
    advanced past any MANUAL compact id — so an auto-compaction can never
    collide with (and clobber) a referenced compacted version."""
    t = PartitionedStateTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.append(_df(spark, [(1, 1)]), epoch_id=0)
    t.compact(spark, epoch_id=5)  # manual id; counter must leap past it
    assert t.compactions_committed() == 5
    for e in (6, 7):
        t.append(_df(spark, [(1, e)]), epoch_id=e)
    assert t.maybe_compact(spark, 1) is True
    assert t.compactions_committed() == 6
    got = sorted(
        (r["k"], r["v"], r["__epoch"]) for r in t.read(spark).collect()
    )
    assert got == [(1, "v1", 0), (1, "v6", 6), (1, "v7", 7)]


def test_append_refuses_on_upsert_table_without_clobbering(spark, tmp_path):
    """ADVICE r7: append() on an upsert-managed table must refuse BEFORE
    touching any version directory — pre-fix, the static overwrite of
    v=<epoch> deleted the committed merged bucket files first and only
    then raised, leaving the manifest pointing at clobbered data."""
    t = PartitionedStateTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    rows = spark.createDataFrame(
        [(k, f"v{k}", "c") for k in range(8)], "k long, v string, op string"
    )
    t.upsert(rows, order_by=["v"], epoch_id=3)
    before = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    with pytest.raises(ValueError, match="upsert-managed"):
        t.append(
            spark.createDataFrame([(99, "x")], "k long, v string"),
            epoch_id=3,
        )
    assert (
        sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == before
    )


def test_upsert_refuses_recycled_epoch_with_disjoint_buckets(spark, tmp_path):
    """ADVICE r7 (flush_tail hazard, guarded at the table layer): reusing
    a committed epoch id with a batch that does NOT touch all of that
    epoch's committed buckets would static-overwrite v=<epoch> and
    destroy the untouched buckets the manifest still references — the
    upsert must refuse up front, leaving state intact."""
    t = PartitionedStateTable(str(tmp_path / "t"), ["k"], n_buckets=8)
    rows = spark.createDataFrame(
        [(k, f"v{k}", "c") for k in range(16)], "k long, v string, op string"
    )
    t.upsert(rows, order_by=["v"], epoch_id=1)
    manifest = t.load_manifest()
    assert len(manifest) >= 2  # spread over several buckets
    before = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    with pytest.raises(ValueError, match="fresh epoch id"):
        t.upsert(
            spark.createDataFrame([(0, "clobber", "c")], "k long, v string, op string"),
            order_by=["v"],
            epoch_id=1,
        )
    assert (
        sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == before
    )
    # a GENUINE same-epoch replay (same batch → same touched set) stays legal
    t.upsert(rows, order_by=["v"], epoch_id=1)
    assert (
        sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == before
    )


def test_upsert_precomputed_touched_superset_matches_self_collected(
    spark, tmp_path
):
    """upsert(touched=...) with the caller-collected bucket set — even a
    SUPERSET — commits exactly the state the self-collecting path does
    (the r8 job-fusion contract the temporal join relies on)."""
    from pyspark.sql import functions as F

    t = PartitionedStateTable(str(tmp_path / "t"), ["k"], n_buckets=8)
    r0 = spark.createDataFrame(
        [(k, "a", "c") for k in range(12)], "k long, v string, op string"
    )
    t.upsert(r0, order_by=["v"], epoch_id=0)
    r1 = spark.createDataFrame(
        [(3, "b", "c"), (4, None, "d")], "k long, v string, op string"
    )
    touched = [
        r["b"]
        for r in r1.select(t.bucket_for(F.col("k")).alias("b"))
        .distinct()
        .collect()
    ]
    t.upsert(
        r1,
        order_by=["v"],
        epoch_id=1,
        touched=[*touched, *range(3)],  # deliberate superset
    )
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    want = sorted(
        [(k, "a") for k in range(12) if k not in (3, 4)] + [(3, "b")]
    )
    assert got == want


def test_bucket_cols_decouple_layout_from_merge_keys(spark, tmp_path):
    """``bucket_cols`` places rows by ACCESS column (here ``g``) while
    merging by key — the layout the aggregate/Top-N fact states use so
    touched-group recomputes prune to the groups' buckets.  A batch that
    re-points a key across bucket columns carries the retraction image
    (old ``g``), so the old bucket is touched and the key is merged OUT
    of it — one live copy, in the new bucket, never two."""
    t = PartitionedStateTable(
        str(tmp_path / "t"), ["k"], n_buckets=8, bucket_cols=["g"]
    )
    r0 = spark.createDataFrame(
        [(k, k % 3, float(k), "c", 0) for k in range(9)],
        "k long, g long, v double, op string, seq long",
    )
    t.upsert(r0, order_by=["seq"], epoch_id=0)
    # rows landed in their g-bucket, and pruned reads see exactly them
    for g in range(3):
        b = [
            r["b"]
            for r in spark.range(1)
            .select(t.bucket_for(F.lit(g).cast("long")).alias("b"))
            .collect()
        ][0]
        got = {r["k"] for r in t.read_buckets(spark, [b]).collect()}
        assert got >= {k for k in range(9) if k % 3 == g}
    # re-point k=4 from g=1 to g=2: retraction image (old g) + after image
    r1 = spark.createDataFrame(
        [(4, 1, 4.0, "d", 1), (4, 2, 99.0, "u", 2)],
        "k long, g long, v double, op string, seq long",
    )
    t.upsert(r1, order_by=["seq"], epoch_id=1)
    rows = [(r["k"], r["g"], r["v"]) for r in t.read(spark).collect()]
    assert sorted(r for r in rows if r[0] == 4) == [(4, 2, 99.0)]
    assert len(rows) == 9  # no stale duplicate anywhere


def test_spec_refuses_mismatched_bucket_layout(spark, tmp_path):
    """Resuming a state dir with different n_buckets or bucket_cols is a
    silent-data-loss hazard (hash-pruned merges never probe the old
    buckets) — the _spec.json stamp makes every commit and pruned read
    refuse loudly instead.  Plain read() stays layout-agnostic."""
    t = PartitionedStateTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    rows = spark.createDataFrame(
        [(k, f"v{k}", "c") for k in range(8)], "k long, v string, op string"
    )
    t.upsert(rows, order_by=["v"], epoch_id=0)

    resized = PartitionedStateTable(str(tmp_path / "t"), ["k"], n_buckets=8)
    with pytest.raises(ValueError, match="bucket layout"):
        resized.upsert(rows, order_by=["v"], epoch_id=1)
    with pytest.raises(ValueError, match="bucket layout"):
        resized.read_buckets(spark, [0])
    rebucketed = PartitionedStateTable(
        str(tmp_path / "t"), ["k"], n_buckets=4, bucket_cols=["v"]
    )
    with pytest.raises(ValueError, match="bucket layout"):
        rebucketed.upsert(rows, order_by=["v"], epoch_id=1)
    # state is untouched and still readable with any instance
    assert resized.read(spark).count() == 8

    ap = PartitionedStateTable(str(tmp_path / "a"), ["k"], n_buckets=4)
    ap.append(_df(spark, [(1, 1)]), epoch_id=0)
    with pytest.raises(ValueError, match="bucket layout"):
        PartitionedStateTable(str(tmp_path / "a"), ["k"], n_buckets=16).append(
            _df(spark, [(2, 2)]), epoch_id=1
        )


def test_append_refuses_replay_below_folded_watermark(spark, tmp_path):
    """REGRESSION (ADVICE r8): __compacted_epochs truncates to the newest
    1024 ids, so a replay older than that window (checkpoint restored from
    backup) would re-append rows a compaction already folded.  The
    __folded_max watermark backstops the list: append() no-ops EVERY epoch
    at or below the highest id ever folded, list membership or not."""
    import json
    import os

    t = PartitionedStateTable(str(tmp_path / "w"), ["k"], n_buckets=4)
    for e in range(3):
        t.append(_df(spark, [(e, e)]), epoch_id=e)
    t.compact(spark, epoch_id=100)
    # simulate the id aging out of the bounded list
    mpath = os.path.join(t.path, "_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest[t._FOLDED_MAX] == 2
    manifest[t._SUBSUMED] = []
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    t.append(_df(spark, [(0, 99)]), epoch_id=0)  # replay of a folded epoch
    rows = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert rows == [(0, "v0"), (1, "v1"), (2, "v2")]  # no duplicate, no v99
    # a FRESH epoch above the watermark still appends normally
    t.append(_df(spark, [(7, 7)]), epoch_id=3)
    assert t.read(spark).count() == 4


def test_spec_refuses_committed_data_without_spec(spark, tmp_path):
    """REGRESSION (ADVICE r8): a dir with committed data but no _spec.json
    used to be grandfathered — stamped with THIS instance's layout on its
    next commit.  r8 changed default bucket layouts, so resuming a
    pre-spec dir blind silently merges/prunes against buckets the new
    hash never probes.  Now: committed-data-without-spec refuses on every
    commit and pruned read; only truly EMPTY dirs grandfather."""
    import os

    t = PartitionedStateTable(str(tmp_path / "g"), ["k"], n_buckets=4)
    rows = _df(spark, [(1, 1), (2, 2)])
    t.upsert(rows.withColumn("op", F.lit("c")), order_by=["v"], epoch_id=0)
    os.remove(os.path.join(t.path, "_spec.json"))  # pre-spec-era dir
    t2 = PartitionedStateTable(str(tmp_path / "g"), ["k"], n_buckets=4)
    with pytest.raises(ValueError, match="no _spec.json"):
        t2.upsert(rows.withColumn("op", F.lit("c")), order_by=["v"], epoch_id=1)
    with pytest.raises(ValueError, match="no _spec.json"):
        t2.read_buckets(spark, [0, 1, 2, 3])
    assert t2.read(spark).count() == 2  # plain read stays layout-agnostic
    # an empty dir (no manifest) still grandfathers: first commit stamps
    t3 = PartitionedStateTable(str(tmp_path / "fresh"), ["k"], n_buckets=4)
    t3.append(_df(spark, [(5, 5)]), epoch_id=0)
    assert os.path.exists(os.path.join(t3.path, "_spec.json"))


# -- stored file schema + scale-adaptive commit parallelism (r12) ------------
def test_stored_schema_matches_merge_schema_reads(spark, tmp_path):
    """The manifest's ``__schema`` entry (r12: explicit-schema reads
    replace per-read footer merging) must reproduce mergeSchema behavior
    exactly: same rows and columns after an L6 widening, NULL-filled for
    files written before the new column existed — and a microbatch
    commit lands as ONE file per bucket (single-task write)."""
    import glob
    import json
    import os

    t = PartitionedStateTable(str(tmp_path / "sch"), ["id"], n_buckets=4)
    t.upsert(
        spark.createDataFrame(
            [(i, float(i), "c") for i in range(8)],
            "id int, v double, op string",
        ),
        order_by=["v"],
        epoch_id=0,
    )
    man = t.load_manifest()
    assert "__schema" in man  # stored on a fresh table
    # widened batch: prior buckets' files lack `region`
    t.upsert(
        spark.createDataFrame(
            [(100, 5.0, "eu", "c")],
            "id int, v double, region string, op string",
        ),
        order_by=["v"],
        epoch_id=1,
    )
    man = t.load_manifest()
    assert "region" in man["__schema"]  # union grew
    got = {r["id"]: r["region"] for r in t.read(spark).collect()}
    assert got[100] == "eu" and got[0] is None and len(got) == 9
    # the explicit-schema read equals a forced mergeSchema read
    paths = [
        t._bucket_dir(v, int(b)) for b, v in t._bucket_items(man)
    ]
    merged = spark.read.option("mergeSchema", "true").parquet(*paths)
    assert sorted(merged.columns) == sorted(t.read(spark).columns)
    assert merged.count() == 9
    # single-task microbatch commit: one data file per bucket dir
    for p in paths:
        files = [f for f in glob.glob(os.path.join(p, "*.parquet"))]
        assert len(files) == 1, p

    # TYPE drift (int id vs long id) refuses to claim a union — the
    # entry is dropped so readers fall back to footer merging (mixed
    # int/bigint files are unreadable under EITHER path; the guard just
    # keeps the stored schema from ever mis-claiming one)
    from pyspark.sql import types as T

    drifted = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("op", T.StringType()),
        ]
    )
    assert fold_schema(dict(man), t._SCHEMA, True, drifted) is None
    # a compaction-style full rewrite is the upsert table's analogue of
    # "every live file rewritten"; for append tables compact() restores
    # the stored schema — prove that on a fresh append table
    a = PartitionedStateTable(str(tmp_path / "app"), ["k"], n_buckets=4)
    a.append(_df(spark, [(1, 1), (2, 2)]), epoch_id=0, batch_rows=2)
    assert "__schema" in a.load_manifest()
    # simulate a pre-schema-era dir: drop the key, then compact
    man = a.load_manifest()
    man.pop("__schema")
    with open(a._manifest_path(), "w") as f:
        json.dump(man, f)
    a.append(_df(spark, [(3, 3)]), epoch_id=1, batch_rows=1)
    assert "__schema" not in a.load_manifest()  # unknown legacy files
    a.compact(spark, epoch_id=99)
    assert "__schema" in a.load_manifest()  # full rewrite re-established
    assert {r["k"] for r in a.read(spark).collect()} == {1, 2, 3}


def test_replay_swap_crash_heals_and_orphans_gced(spark, tmp_path):
    """r13 (ADVICE r12): a crash BETWEEN the replay swap's two renames
    leaves the manifest referencing a missing ``v=<epoch>`` while the
    prior state sits stranded in ``_old_v<epoch>`` — the next upsert of
    that epoch must rename it back (self-heal) before its prior read;
    and stranded ``_tmp_v*``/``_old_v*`` dirs of OTHER epochs must be
    swept by a later commit's GC instead of leaking forever."""
    import os

    t = PartitionedStateTable(str(tmp_path / "heal"), ["id"], n_buckets=2)

    def df(rows):
        return spark.createDataFrame(rows, "id int, v double, op string")

    t.upsert(df([(1, 1.0, "c"), (2, 2.0, "c")]), order_by=["v"], epoch_id=0)
    t.upsert(df([(1, 5.0, "c")]), order_by=["v"], epoch_id=1)
    data = os.path.join(t.path, "_data")
    # simulate the crash window: v=1 renamed away, tmp never renamed in
    os.rename(os.path.join(data, "v=1"), os.path.join(data, "_old_v1"))
    # plus stranded dirs from a fictitious older epoch's crashed replay
    os.makedirs(os.path.join(data, "_tmp_v0"))
    # replay of epoch 1 must heal (read its prior state) and converge
    t.upsert(df([(1, 5.0, "c")]), order_by=["v"], epoch_id=1)
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 5.0, 2: 2.0}
    leftovers = [
        d for d in os.listdir(data) if d.startswith(("_tmp_v", "_old_v"))
    ]
    assert leftovers == [], leftovers
    # a LATER epoch's commit also heals a stranded predecessor (the
    # entry heal covers every referenced-but-missing epoch) and its GC
    # leaves no stranded dirs behind
    os.rename(os.path.join(data, "v=1"), os.path.join(data, "_old_v1"))
    t.upsert(df([(9, 9.0, "c")]), order_by=["v"], epoch_id=2)
    assert os.path.isdir(os.path.join(data, "v=1"))
    assert not any(
        d.startswith(("_tmp_v", "_old_v")) for d in os.listdir(data)
    )
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 5.0, 2: 2.0, 9: 9.0}


#: one epoch of keyed changes: key → new value, or None for a delete
_CHANGES = st.dictionaries(
    st.integers(0, 11), st.one_of(st.integers(0, 9), st.none()), max_size=5
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    epochs=st.lists(
        st.tuples(_CHANGES, st.booleans()), min_size=1, max_size=4
    )
)
def test_upsert_with_replays_equals_dict_model(
    spark, tmp_path_factory, epochs
):
    """Keyed upserts and deletes, each epoch possibly re-run after its
    manifest swap (the replay-swap write path), read back exactly the
    dict model; every manifest entry's directory exists and no
    ``_tmp_v*``/``_old_v*`` directory is left behind."""
    import os

    root = tmp_path_factory.mktemp("upsert")
    t = PartitionedStateTable(str(root / "t"), ["k"], n_buckets=4)
    model: dict[int, int] = {}
    for epoch, (changes, replay) in enumerate(epochs):
        batch = spark.createDataFrame(
            [
                (k, 0 if v is None else v, "d" if v is None else "c")
                for k, v in changes.items()
            ],
            "k long, v long, op string",
        )
        for _ in range(1 + replay):
            t.upsert(batch, order_by=["v"], epoch_id=epoch)
        for k, v in changes.items():
            if v is None:
                model.pop(k, None)
            else:
                model[k] = v
    df = t.read(spark)
    got = {} if df is None else {r["k"]: r["v"] for r in df.collect()}
    assert got == model
    for b, v in t._bucket_items(t.load_manifest()):
        assert os.path.isdir(t._bucket_dir(v, int(b))), (b, v)
    data = os.path.join(t.path, "_data")
    if os.path.isdir(data):
        assert not [
            d for d in os.listdir(data) if d.startswith(("_tmp_v", "_old_v"))
        ]

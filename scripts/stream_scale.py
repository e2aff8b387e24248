"""Streaming-machinery scale measurement: is per-epoch cost flat as
accumulated STATE grows 10×?  (VERDICT r7 next-round #2 — the r7
append/bucket-prune claim, measured instead of argued.)

The replay witnesses are excluded from the 10× corpus smoke because
copy-synthesis reuses timestamps and the witness fixtures assert global
ts uniqueness.  This script therefore SYNTHESIZES fresh CDC logs with
unique, monotone timestamps (ts = base + row index — never copy-keyed)
at two state scales, then measures the SAME fixed-size probe epoch
against both:

- **temporal join** (``streaming/temporal_join.py``): build the dim
  version history from K keys × V versions (scale by K, so per-key
  version density stays constant and only TOTAL history grows 10×),
  then probe with P facts referencing 8 fixed keys.  The emit join
  reads only the history buckets those keys hash to (≤ 8 of 256), so
  per-epoch cost should be ~flat while a full-history-read
  implementation would grow ~10×.
- **changelog aggregate** (``streaming/aggregates.py``): build latest
  state for K keys (scale by K), then probe with P well-formed UPDATE
  envelopes (chained before-images) on 8 fixed keys.  Fact state is
  bucketed BY GROUP (r8), so both the upsert and the touched-group
  recompute read only the 8 probed keys' group buckets; per-epoch cost
  is O(batch + facts of the touched groups) — those groups' fact counts
  grow with K (keys spread over 50 fixed groups), so the honest
  expectation is the touched-groups term scaling, far below the
  O(total state) scan the r7 shape paid.

Protocol (established by SCALING.md): per scale, 1 warmup probe + min
of 3 timed probes, each a FRESH batch under a FRESH epoch (the
steady-state stream shape; re-running one epoch id would measure the
replay-pin path — an extra eager checkpoint no real stream pays), plus
a final fresh epoch that counts Spark jobs (the driver-action floor).

Usage: python scripts/stream_scale.py [--quick] [--legs=agg,join,...]
  --quick: 1/10th row counts (CI smoke of the script itself)
  --legs=tier: only the ``statetable.epoch_settings`` A/B (see
  :func:`measure_tier`)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WORK = "/tmp/spark_graft_stream_scale"
BASE_TS = 1_700_000_000_000_000  # micros; fixture-local, fresh unique ts
N_BUCKETS = 256
PROBE_KEYS = 8
PROBE_ROWS = 2_000
RUNS = 3

DIM_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("ver", T.LongType()),
    ]
)
FACT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("grp", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ver", T.LongType()),
    ]
)


_JOB_GROUP_SEQ = [0]


def _count_jobs(spark: SparkSession, fn) -> int:
    """Spark TRACKER jobs launched by fn() — a superset of the code's
    driver actions: AQE materializes each query stage as its own job,
    and every state read adds a mergeSchema footer job (plus a
    file-listing job once path counts cross the parallel-discovery
    threshold).  Fresh group name per call — the tracker's group listing
    is cumulative, so reusing one name double-counts earlier calls."""
    sc = spark.sparkContext
    _JOB_GROUP_SEQ[0] += 1
    group = f"job_count_probe_{_JOB_GROUP_SEQ[0]}"
    sc.setJobGroup(group, "per-epoch job count", False)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(
        spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    )


def _src(table: str, ts, pos):
    return F.struct(
        F.lit("scale").alias("db"),
        F.lit(table).alias("table"),
        ts.alias("ts_ms"),
        F.lit("log.0").alias("file"),
        pos.alias("pos"),
    )


def _env(table: str, op, before, after, ts, pos) -> list:
    fields = []
    if before is not None:
        fields.append(before.alias("before"))
    if after is not None:
        fields.append(after.alias("after"))
    fields += [
        op.alias("op"),
        ts.alias("ts_ms"),
        _src(table, ts, pos).alias("source"),
    ]
    return [
        F.to_json(F.struct(*fields)).alias("value"),
        F.lit("log.0").alias("file"),
        pos.alias("pos"),
    ]


# -- temporal join fixture ---------------------------------------------------


def dim_envelopes(spark: SparkSession, n_keys: int, versions: int) -> DataFrame:
    """K keys × V versions, ts = BASE_TS + i (globally unique, monotone
    in log order — fresh synthesis, never copy-keyed)."""
    n = n_keys * versions
    i = F.col("id")
    after = F.struct(
        (i % n_keys).alias("user_id"),
        ((i % 997) * 1.0).alias("price"),
        i.alias("ver"),
    )
    return spark.range(n).select(
        *_env("dims", F.lit("c"), None, after, F.lit(BASE_TS) + i, i)
    )


def fact_probe(
    spark: SparkSession, n_hist: int, run: int, probe_rows: int = PROBE_ROWS
) -> DataFrame:
    """P facts on 8 fixed keys, rowtimes strictly inside the built dim
    history (all < the stored watermark → the whole probe emits in its
    own epoch).  ``run`` offsets the event ids so every timed run is a
    FRESH batch under a FRESH epoch — the steady-state stream shape
    (re-running one epoch id would instead measure the replay-pin path,
    which eager-checkpoints the merged state: one extra job no real
    stream pays per batch)."""
    i = F.col("id")
    base = 10**12 + run * probe_rows
    after = F.struct(
        (F.lit(base) + i).alias("event_id"),
        (i % PROBE_KEYS).alias("user_id"),
        F.lit(1.0).alias("value"),
    )
    # offset past the probe keys' FIRST versions (key k's first version
    # lands at ts BASE+k) so every probe fact has a version at-or-before
    # its rowtime (the inner join would drop it otherwise), and stay
    # strictly below the watermark BASE + n_hist - 1
    ts = F.lit(BASE_TS + PROBE_KEYS) + (i * 7919) % F.lit(
        n_hist - 1 - PROBE_KEYS
    )
    pos = F.lit(base) + i
    return spark.range(probe_rows).select(
        *_env("facts", F.lit("c"), None, after, ts, pos)
    )


def measure_temporal(
    spark: SparkSession,
    n_keys: int,
    versions: int,
    tag: str,
    n_buckets: int = N_BUCKETS,
    probe_rows: int = PROBE_ROWS,
):
    from flink_cdc_log_connectors_spark.streaming.joins import JoinSide
    from flink_cdc_log_connectors_spark.streaming.temporal_join import (
        TemporalJoin,
    )

    fact = JoinSide(
        table="facts", physical=FACT_SCHEMA, key="event_id", join_col="user_id"
    )
    dim = JoinSide(
        table="dims", physical=DIM_SCHEMA, key="user_id", join_col="user_id"
    )
    root = os.path.join(WORK, f"temporal_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    tj = TemporalJoin(fact, dim, root, how="inner", n_buckets=n_buckets)

    n = n_keys * versions
    dims = dim_envelopes(spark, n_keys, versions).persist()
    build_epochs = 4
    per = n // build_epochs
    t0 = time.perf_counter()
    for e in range(build_epochs):
        lo, hi = e * per, (e + 1) * per if e < build_epochs - 1 else n
        tj.process_batch(
            dims.filter((F.col("pos") >= lo) & (F.col("pos") < hi)),
            epoch_id=e,
        )
    build_s = time.perf_counter() - t0
    dims.unpersist()

    times = []
    for r in range(RUNS + 2):  # run 0 = warmup (compiles the emit plans)
        probe = fact_probe(spark, n, r, probe_rows).persist()
        probe.count()  # materialize the fixture outside the timed region
        if r <= RUNS:
            t0 = time.perf_counter()
            tj.process_batch(probe, epoch_id=build_epochs + r)
            dt = time.perf_counter() - t0
            if r > 0:
                times.append(dt)
        else:  # final fresh epoch: count driver actions
            jobs = _count_jobs(
                spark,
                lambda p=probe, e=build_epochs + r: tj.process_batch(
                    p, epoch_id=e
                ),
            )
        probe.unpersist()
    view = tj.read_view(spark)
    emitted = 0 if view is None else view.count()
    want = probe_rows * (RUNS + 2)
    assert emitted == want, f"probe emitted {emitted}, want {want}"
    return {
        "history_rows": n,
        "build_s": round(build_s, 2),
        "probe_epoch_s": round(min(times), 3),
        "probe_runs_s": [round(t, 3) for t in times],
        "jobs_per_epoch": jobs,
    }


def measure_retention(
    spark: SparkSession,
    n_keys: int,
    versions: int,
    tag: str,
    retention_frac: float = 0.1,
    n_buckets: int = N_BUCKETS,
):
    """history_retention_ms (r9): build K keys x V versions of dim
    history, then compact with retention covering the last
    ``retention_frac`` of event time.  Reports stored rows/bytes vs the
    appended total — the O(churn window) vs O(all versions ever) claim,
    measured.  Probe correctness for in-retention facts is pinned by
    tests/test_temporal_join.py; this leg measures the storage bound."""
    from flink_cdc_log_connectors_spark.streaming.joins import JoinSide
    from flink_cdc_log_connectors_spark.streaming.temporal_join import (
        TemporalJoin,
    )

    fact = JoinSide(
        table="facts", physical=FACT_SCHEMA, key="event_id", join_col="user_id"
    )
    dim = JoinSide(
        table="dims", physical=DIM_SCHEMA, key="user_id", join_col="user_id"
    )
    root = os.path.join(WORK, f"retention_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    n = n_keys * versions
    retention_ms = int(n * retention_frac)
    tj = TemporalJoin(
        fact,
        dim,
        root,
        how="inner",
        n_buckets=n_buckets,
        history_retention_ms=retention_ms,
    )
    dims = dim_envelopes(spark, n_keys, versions).persist()
    build_epochs = 4
    per = n // build_epochs
    for e in range(build_epochs):
        lo, hi = e * per, (e + 1) * per if e < build_epochs - 1 else n
        tj.process_batch(
            dims.filter((F.col("pos") >= lo) & (F.col("pos") < hi)),
            epoch_id=e,
        )
    dims.unpersist()
    t0 = time.perf_counter()
    tj.history.compact(
        spark,
        epoch_id=tj.history.compactions_committed() + 1,
        transform=tj._retention_transform(),
    )
    compact_s = time.perf_counter() - t0
    stored = tj.history.read(spark).count()
    return {
        "appended_rows": n,
        "retention_ms_of_span": retention_ms,
        "stored_rows": stored,
        "stored_frac": round(stored / n, 3),
        "stored_bytes": _state_bytes(tj.history),
        "final_compact_s": round(compact_s, 2),
    }


# -- changelog join fixture ---------------------------------------------------

ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_id", T.LongType()),
        T.StructField("cust_id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("ots", T.LongType()),  # fact rowtime (TTL legs)
    ]
)
CUSTS_SCHEMA = T.StructType(
    [
        T.StructField("c_id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)
JOIN_FAN_OUT = 20  # facts per dim key, CONSTANT across scales


def join_build_envelopes(
    spark: SparkSession, n_facts: int, n_dims: int | None = None
):
    """n_facts/FAN_OUT dims then n_facts facts (cust_id = j % n_referenced,
    so every referenced dim key's fan-out stays JOIN_FAN_OUT as total fact
    state grows — the probe's work is constant by construction, isolating
    the state READS as the only terms that could scale).  Passing n_dims
    grows the dim table INDEPENDENTLY (facts keep referencing the first
    n_facts/FAN_OUT keys — the hot-subset shape of a large dimension)."""
    n_referenced = n_facts // JOIN_FAN_OUT
    if n_dims is None:
        n_dims = n_referenced
    i = F.col("id")
    dim_after = F.struct(i.alias("c_id"), F.lit("b").alias("name"))
    dims = spark.range(n_dims).select(
        *_env("customers", F.lit("c"), None, dim_after, F.lit(BASE_TS) + i, i)
    )
    fact_after = F.struct(
        (F.lit(10**9) + i).alias("o_id"),
        (i % n_referenced).alias("cust_id"),
        F.lit(1.0).alias("amount"),
        (F.lit(BASE_TS) + n_dims + i).alias("ots"),
    )
    facts = spark.range(n_facts).select(
        *_env(
            "orders",
            F.lit("c"),
            None,
            fact_after,
            F.lit(BASE_TS) + n_dims + i,
            F.lit(n_dims) + i,
        )
    )
    return dims.unionByName(facts), n_dims


def join_probe_envelopes(
    spark: SparkSession, n_dims: int, n_facts: int, run: int
):
    """Pure dim churn — the shape `bucket_left_by_join_col` targets: 8
    fixed dim keys updated with well-formed before-images (name chains
    b → w0 → w1 → …), each fanning out to JOIN_FAN_OUT fact recomputes.
    Fresh ts/pos/epoch per run, same discipline as the other legs."""
    i = F.col("id")
    base_pos = n_dims + n_facts + run * PROBE_KEYS
    prev = "b" if run == 0 else f"w{run - 1}"
    before = F.struct(i.alias("c_id"), F.lit(prev).alias("name"))
    after = F.struct(i.alias("c_id"), F.lit(f"w{run}").alias("name"))
    return spark.range(PROBE_KEYS).select(
        *_env(
            "customers",
            F.lit("u"),
            before,
            after,
            F.lit(BASE_TS) + base_pos + i,
            F.lit(base_pos) + i,
        )
    )


def measure_join(
    spark: SparkSession,
    n_facts: int,
    tag: str,
    by_join_col: bool,
    n_buckets: int = N_BUCKETS,
    n_dims: int | None = None,
    left_ttl: int | None = None,
):
    from flink_cdc_log_connectors_spark.streaming.joins import (
        ChangelogJoin,
        JoinSide,
    )

    left = JoinSide(
        table="orders", physical=ORDERS_SCHEMA, key="o_id", join_col="cust_id"
    )
    right = JoinSide(
        table="customers", physical=CUSTS_SCHEMA, key="c_id", join_col="c_id"
    )
    root = os.path.join(WORK, f"join_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    join = ChangelogJoin(
        left,
        right,
        root,
        how="inner",
        n_buckets=n_buckets,
        bucket_left_by_join_col=by_join_col,
        left_ttl=left_ttl,
        left_ttl_col="ots" if left_ttl is not None else None,
    )
    build, n_dims = join_build_envelopes(spark, n_facts, n_dims)
    build = build.persist()
    total = n_dims + n_facts
    build_epochs = 4
    per = total // build_epochs
    t0 = time.perf_counter()
    for e in range(build_epochs):
        lo, hi = e * per, (e + 1) * per if e < build_epochs - 1 else total
        join.process_batch(
            build.filter((F.col("pos") >= lo) & (F.col("pos") < hi)),
            epoch_id=e,
        )
    build_s = time.perf_counter() - t0
    build.unpersist()

    times = []
    for r in range(RUNS + 2):  # run 0 = warmup
        probe = join_probe_envelopes(spark, n_dims, n_facts, r).persist()
        probe.count()
        if r <= RUNS:
            t0 = time.perf_counter()
            join.process_batch(probe, epoch_id=build_epochs + r)
            dt = time.perf_counter() - t0
            if r > 0:
                times.append(dt)
        else:
            jobs = _count_jobs(
                spark,
                lambda p=probe, e=build_epochs + r: join.process_batch(
                    p, epoch_id=e
                ),
            )
        probe.unpersist()
    view = join.read_view(spark)
    n_rows = 0 if view is None else view.count()
    assert n_rows == n_facts, f"view {n_rows}, want {n_facts}"
    # the probed keys' enrichment must reflect the LAST probe run
    n_latest = view.filter(F.col("r_name") == f"w{RUNS + 1}").count()
    assert n_latest == PROBE_KEYS * JOIN_FAN_OUT, n_latest
    # deterministic dim-IO reading (VERDICT r9 #2): bytes the LAST probe
    # epoch's enrichment read actually opened (pruned to the batch's
    # join-value buckets, r10) vs the full dim store a pre-r10 epoch
    # scanned — noise-immune where wall clock is not
    dim_full = _state_bytes(join.right_state)
    dim_read = (
        dim_full
        if join.last_dim_buckets is None
        else _pruned_bytes(join.right_state, join.last_dim_buckets)
    )
    return {
        "fact_state_rows": n_facts,
        "dim_state_rows": n_dims,
        "build_s": round(build_s, 2),
        "probe_epoch_s": round(min(times), 3),
        "probe_runs_s": [round(t, 3) for t in times],
        "jobs_per_epoch": jobs,
        "dim_state_bytes_full": dim_full,
        "dim_read_bytes_pruned": dim_read,
        "dim_read_buckets": (
            None
            if join.last_dim_buckets is None
            else len(join.last_dim_buckets)
        ),
    }


def join_ttl_cold_build_envelopes(spark: SparkSession, n_facts: int):
    """The join build fixture with a COLD fact population: every 10th
    fact carries an EARLY rowtime (``ots = i``) while the rest sit at
    ``10·n + i`` — a TTL whose cutoff lands between the two expires
    exactly the cold 10%.  Dims are unchanged (dim state is never
    TTL'd)."""
    n_referenced = n_facts // JOIN_FAN_OUT
    i = F.col("id")
    dim_after = F.struct(i.alias("c_id"), F.lit("b").alias("name"))
    dims = spark.range(n_referenced).select(
        *_env("customers", F.lit("c"), None, dim_after, F.lit(BASE_TS) + i, i)
    )
    ots = F.when(i % 10 == 0, i).otherwise(F.lit(10 * n_facts) + i)
    fact_after = F.struct(
        (F.lit(10**9) + i).alias("o_id"),
        (i % n_referenced).alias("cust_id"),
        F.lit(1.0).alias("amount"),
        ots.alias("ots"),
    )
    facts = spark.range(n_facts).select(
        *_env(
            "orders",
            F.lit("c"),
            None,
            fact_after,
            F.lit(BASE_TS) + n_referenced + i,
            F.lit(n_referenced) + i,
        )
    )
    return dims.unionByName(facts), n_referenced


def measure_join_ttl_expiry(spark: SparkSession, n_facts: int, tag: str):
    """Expiry-pass cost for the JOIN consumer (VERDICT r9 #3 — the
    heaviest TTL consumer: its per-batch stats agg is two-sided and its
    expiry tombstones output rows through the full recompute pipeline).
    Mirrors ``measure_agg_ttl_expiry``: the first pass after a bulk
    build scans every bucket (build-time bounds are batch minima), the
    pass after a small watermark advance must scan ZERO."""
    from flink_cdc_log_connectors_spark.streaming.joins import (
        ChangelogJoin,
        JoinSide,
    )

    root = os.path.join(WORK, f"jointtl_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    # wm after build = 11n-1; ttl = n puts the cutoff at 10n-1: at or
    # above every cold rowtime (≤ n-10), below every warm one (≥ 10n+1)
    join = ChangelogJoin(
        JoinSide("orders", ORDERS_SCHEMA, key="o_id", join_col="cust_id"),
        JoinSide("customers", CUSTS_SCHEMA, key="c_id", join_col="c_id"),
        root,
        how="inner",
        n_buckets=N_BUCKETS,
        bucket_left_by_join_col=True,
        left_ttl=n_facts,
        left_ttl_col="ots",
    )
    build, n_dims = join_ttl_cold_build_envelopes(spark, n_facts)
    build = build.persist()
    total = n_dims + n_facts
    build_epochs = 4
    per = total // build_epochs
    for e in range(build_epochs):
        lo, hi = e * per, (e + 1) * per if e < build_epochs - 1 else total
        join.process_batch(
            build.filter((F.col("pos") >= lo) & (F.col("pos") < hi)),
            epoch_id=e,
        )
    build.unpersist()

    # stage the decision first (expire() reuses it) so scan set + bytes
    # are reportable without instrumenting the class
    exp, _cutoff, _syn = join._ttl_proto.stage(spark, build_epochs)
    full_bytes = _state_bytes(join.left_state)
    scan_bytes = _pruned_bytes(join.left_state, exp)
    t0 = time.perf_counter()
    join.expire(spark, epoch_id=build_epochs)
    expiry_s = time.perf_counter() - t0
    expired = join.expired_applied

    # advance the watermark slightly (one fresh fact at ots = 11n) —
    # the new cutoff (10n) stays below every tightened bound (≥ 10n+1),
    # so the next expiry decision scans ZERO buckets
    i = F.col("id")
    adv_after = F.struct(
        (F.lit(10**9) + n_facts + i).alias("o_id"),
        (i % n_dims).alias("cust_id"),
        F.lit(1.0).alias("amount"),
        (F.lit(11 * n_facts) + i).alias("ots"),
    )
    adv = spark.range(1).select(
        *_env(
            "orders",
            F.lit("c"),
            None,
            adv_after,
            F.lit(BASE_TS) + total + i,
            F.lit(total) + i,
        )
    )
    join.process_batch(adv, epoch_id=build_epochs + 1)
    exp2, _c2, _s2 = join._ttl_proto.stage(spark, build_epochs + 2)

    view = join.read_view(spark)
    n_rows = 0 if view is None else view.count()
    want = n_facts - n_facts // 10 + 1  # cold 10% tombstoned, +1 advance
    assert expired == n_facts // 10, f"expired {expired}"
    assert n_rows == want, f"view {n_rows}, want {want}"
    return {
        "fact_state_rows": n_facts,
        "expired_rows": expired,
        "first_expiry_s": round(expiry_s, 3),
        "first_scan_buckets": len(exp),
        "first_scan_bytes": scan_bytes,
        "state_bytes": full_bytes,
        "rescan_buckets_after_wm_advance": len(exp2),
    }


# -- ingest dedup fixture ------------------------------------------------------


def _doc_text(id_col, words: int = 20):
    """Deterministic pseudo-text: `words` 8-char tokens from md5(id*words+j)
    — unique docs band-collide with nothing, so the index's pair store
    stays empty during the build and every probe candidate is intentional."""
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(words - 1)),
            lambda j: F.substring(
                F.md5((id_col * words + j).cast("string")), 1, 8
            ),
        ),
    )


def _docs(spark: SparkSession, ids) -> DataFrame:
    return spark.range(*ids).select(
        F.col("id").alias("doc_id"), _doc_text(F.col("id")).alias("text")
    )


def _state_bytes(table) -> int:
    """On-disk bytes of every bucket file the manifest references — the
    FULL-scan cost a pre-r9 batch paid to read this store."""
    return _pruned_bytes(table, table.live_buckets())


def _pruned_bytes(table, buckets) -> int:
    total = 0
    manifest = table.load_manifest()
    for b in buckets:
        for v in table._versions(manifest, b):
            d = table._bucket_dir(v, int(b))
            for f in os.listdir(d):
                total += os.path.getsize(os.path.join(d, f))
    return total


def measure_ingest(
    spark: SparkSession,
    n_docs: int,
    tag: str,
    n_buckets: int = N_BUCKETS,
    probe_docs: int = 8,
):
    """Fixed probe batch (8 docs, each an exact copy of a distinct build
    doc) against an index grown 10× by doc count (VERDICT r8 #2).  Two
    readings per scale: end-to-end probe epoch seconds, and the
    DETERMINISTIC index-read bytes — pruned (what the r9 (band_idx, bh)
    bucketing reads) vs full (what the pre-r9 doc_id-bucketed layout had
    to open every batch, its broadcast-semi filter notwithstanding)."""
    from flink_cdc_log_connectors_spark.streaming.ingest_dedup import (
        IngestDedup,
        _batch_bands,
        read_dedup_pairs,
    )
    from flink_cdc_log_connectors_spark.functions.text import (
        hashed_word_ngrams,
    )

    root = os.path.join(WORK, f"ingest_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    dd = IngestDedup(root, n_buckets=n_buckets)
    build_epochs = 4
    per = n_docs // build_epochs
    t0 = time.perf_counter()
    for e in range(build_epochs):
        lo, hi = e * per, (e + 1) * per if e < build_epochs - 1 else n_docs
        dd.process_batch(_docs(spark, (lo, hi)), epoch_id=e)
    build_s = time.perf_counter() - t0

    times = []
    for r in range(RUNS + 2):  # run 0 = warmup
        # run r's probe copies build docs [r*P, (r+1)*P) under fresh ids
        # — each probe doc pairs with exactly its build twin, so the
        # batch's collision surface is CONSTANT across runs and scales
        probe = (
            _docs(spark, (r * probe_docs, (r + 1) * probe_docs))
            .select(
                (F.col("doc_id") + 10**9 + r * probe_docs).alias("doc_id"),
                "text",
            )
            .persist()
        )
        probe.count()
        if r <= RUNS:
            t0 = time.perf_counter()
            dd.process_batch(probe, epoch_id=build_epochs + r)
            dt = time.perf_counter() - t0
            if r > 0:
                times.append(dt)
        else:
            jobs = _count_jobs(
                spark,
                lambda p=probe, e=build_epochs + r: dd.process_batch(
                    p, epoch_id=e
                ),
            )
        probe.unpersist()
    # every probe doc found its twin (jaccard 1.0), nothing else
    pairs = read_dedup_pairs(spark, root)
    got = pairs.count()
    want = probe_docs * (RUNS + 2)
    assert got == want, f"pairs {got}, want {want}"
    # deterministic read-bytes contrast for ONE more fixed probe batch
    doc_sets = _docs(spark, (0, probe_docs)).select(
        "doc_id", hashed_word_ngrams(F.col("text"), 3).alias("shset")
    )
    bks = sorted(
        _batch_bands(doc_sets)
        .agg(
            F.collect_set(
                dd.bands.bucket_for(F.col("band_idx"), F.col("bh"))
            ).alias("b")
        )
        .first()["b"]
    )
    return {
        "index_docs": n_docs,
        "build_s": round(build_s, 2),
        "probe_epoch_s": round(min(times), 3),
        "probe_runs_s": [round(t, 3) for t in times],
        "jobs_per_epoch": jobs,
        "bands_buckets_read": len(bks),
        "bands_read_bytes_pruned": _pruned_bytes(dd.bands, bks),
        "bands_read_bytes_full": _state_bytes(dd.bands),
    }


# -- changelog aggregate fixture ----------------------------------------------


def _state_row(k, ver, value):
    return F.struct(
        k.alias("user_id"),
        (k % 50).alias("grp"),
        value.alias("value"),
        ver.alias("ver"),
    )


def agg_build_envelopes(
    spark: SparkSession, n_keys: int, versions: int
) -> DataFrame:
    """K keys × V well-formed updates: round-robin ts = BASE + j*K + k
    (unique; per-key monotone), before-image = the key's true previous
    row — the same well-formedness contract the replay fixtures pin."""
    i = F.col("id")
    k = i % n_keys
    j = (i / n_keys).cast("long")
    ts = F.lit(BASE_TS) + j * n_keys + k
    after = _state_row(k, j, j * 1.0)
    before = F.when(j > 0, _state_row(k, j - 1, (j - 1) * 1.0))
    op = F.when(j == 0, F.lit("c")).otherwise(F.lit("u"))
    return spark.range(n_keys * versions).select(
        *_env("state", op, before, after, ts, i)
    )


def _ver_value(ver, versions: int):
    """value is a pure function of a row's version: build rows carry
    ver*1.0, probe rows 1000+ver — so any run's before-image can be
    reconstructed exactly from the previous version number."""
    return F.when(ver < versions, ver * 1.0).otherwise(1000.0 + ver)


def agg_probe_envelopes(
    spark: SparkSession,
    n_keys: int,
    versions: int,
    run: int,
    probe_rows: int = PROBE_ROWS,
) -> DataFrame:
    """P chained updates on 8 fixed keys (m-th update's before-image =
    the (m-1)-th's after-image; m=0 chains off the previous run's — or
    the build's — last row).  Fresh rows + fresh epoch per timed run:
    the steady-state stream shape (same-epoch re-runs would measure the
    replay-pin path instead)."""
    i = F.col("id")
    k = i % PROBE_KEYS
    m = (i / PROBE_KEYS).cast("long")
    per_key = probe_rows // PROBE_KEYS
    start_ver = versions + run * per_key
    base_pos = n_keys * versions + run * probe_rows
    ts = F.lit(BASE_TS) + base_pos + m * PROBE_KEYS + k
    ver = F.lit(start_ver) + m
    after = _state_row(k, ver, _ver_value(ver, versions))
    before = _state_row(k, ver - 1, _ver_value(ver - 1, versions))
    return spark.range(probe_rows).select(
        *_env("state", F.lit("u"), before, after, ts, F.lit(base_pos) + i)
    )


def measure_agg(
    spark: SparkSession,
    n_keys: int,
    versions: int,
    tag: str,
    n_buckets: int = N_BUCKETS,
    probe_rows: int = PROBE_ROWS,
    ttl: int | None = None,
    ttl_col: str | None = None,
):
    from flink_cdc_log_connectors_spark.streaming.aggregates import (
        ChangelogAggregate,
    )

    root = os.path.join(WORK, f"agg_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    agg = ChangelogAggregate(
        "state",
        STATE_SCHEMA,
        key="user_id",
        group_cols=["grp"],
        output_path=root,
        sum_cols=["value"],
        n_buckets=n_buckets,
        ttl=ttl,
        ttl_col=ttl_col,
    )
    n = n_keys * versions
    build = agg_build_envelopes(spark, n_keys, versions).persist()
    build_epochs = 4
    per = n // build_epochs
    t0 = time.perf_counter()
    for e in range(build_epochs):
        lo, hi = e * per, (e + 1) * per if e < build_epochs - 1 else n
        agg.process_batch(
            build.filter((F.col("pos") >= lo) & (F.col("pos") < hi)),
            epoch_id=e,
        )
    build_s = time.perf_counter() - t0
    build.unpersist()

    times = []
    for r in range(RUNS + 2):  # run 0 = warmup (compiles the merge plans)
        probe = agg_probe_envelopes(
            spark, n_keys, versions, r, probe_rows
        ).persist()
        probe.count()
        if r <= RUNS:
            t0 = time.perf_counter()
            agg.process_batch(probe, epoch_id=build_epochs + r)
            dt = time.perf_counter() - t0
            if r > 0:
                times.append(dt)
        else:  # final fresh epoch: count driver actions
            jobs = _count_jobs(
                spark,
                lambda p=probe, e=build_epochs + r: agg.process_batch(
                    p, epoch_id=e
                ),
            )
        probe.unpersist()
    view = agg.read_view(spark)
    n_groups = 0 if view is None else view.count()
    assert n_groups == 50, f"groups {n_groups}, want 50"
    return {
        "state_rows": n_keys,
        "build_s": round(build_s, 2),
        "probe_epoch_s": round(min(times), 3),
        "probe_runs_s": [round(t, 3) for t in times],
        "jobs_per_epoch": jobs,
    }


def measure_tier(spark: SparkSession, n_keys: int, sizes, pairs: int):
    """Both sides of ``statetable.epoch_settings``: per batch size,
    ``pairs`` pairs of aggregate epochs, one with the small settings and
    one with the session's, order alternating by pair.  Each epoch takes
    the next ``size`` envelopes of the round-robin update stream over
    ``n_keys`` keys, so state stays one row per key and every epoch
    touches the same buckets.  The forced choice replaces the gate for
    the commit step only; ``gate`` is what the gate itself picked, with
    the batch rows it was sized by."""
    import contextlib

    from flink_cdc_log_connectors_spark.streaming import ttl
    from flink_cdc_log_connectors_spark.streaming.aggregates import (
        ChangelogAggregate,
    )

    root = os.path.join(WORK, "agg_tier")
    shutil.rmtree(root, ignore_errors=True)
    agg = ChangelogAggregate(
        "state",
        STATE_SCHEMA,
        key="user_id",
        group_cols=["grp"],
        output_path=root,
        sum_cols=["value"],
        n_buckets=N_BUCKETS,
    )
    need = n_keys + 2 * pairs * sum(sizes)
    stream = agg_build_envelopes(spark, n_keys, -(-need // n_keys))
    pos = [0]

    def epoch(n: int) -> DataFrame:
        batch = stream.filter(
            (F.col("pos") >= pos[0]) & (F.col("pos") < pos[0] + n)
        ).persist()
        batch.count()
        pos[0] += n
        return batch

    first = epoch(n_keys)
    agg.process_batch(first, epoch_id=0)
    first.unpersist()

    real = ttl.epoch_settings
    seen: list = []

    def forced(small: bool):
        def pick(s, batch_rows, touched):
            small_gate = not isinstance(
                real(s, batch_rows, touched), contextlib.nullcontext
            )
            seen.append((batch_rows, "small" if small_gate else "session"))
            # sized by nothing, the gate always returns the small scope
            return real(s, 0, {}) if small else contextlib.nullcontext()

        return pick

    out: dict = {"state_rows": n_keys}
    e = 1
    try:
        for size in sizes:
            runs: dict = {"small": [], "session": []}
            for p in range(pairs):
                order = ("small", "session") if p % 2 == 0 else ("session", "small")
                for side in order:
                    batch = epoch(size)
                    ttl.epoch_settings = forced(side == "small")
                    t0 = time.perf_counter()
                    agg.process_batch(batch, epoch_id=e)
                    runs[side].append(round(time.perf_counter() - t0, 3))
                    batch.unpersist()
                    e += 1
            rows, gate = seen[-1]
            out[str(size)] = {
                "batch_rows": rows,
                "gate": gate,
                "small_s": runs["small"],
                "session_s": runs["session"],
                "small_wins": sum(
                    a < b for a, b in zip(runs["small"], runs["session"])
                ),
            }
            print(f"# tier {size}: {json.dumps(out[str(size)])}", file=sys.stderr)
    finally:
        ttl.epoch_settings = real
    view = agg.read_view(spark)
    assert view is not None and view.count() == 50
    return out


def agg_ttl_cold_build_envelopes(
    spark: SparkSession, n_keys: int, versions: int
) -> DataFrame:
    """The agg build fixture with COLD GROUPS: keys in groups 0-4 stop
    updating at ``versions // 2`` (their later rows are dropped; the
    per-key before-image chain stays well-formed).  With an event-time
    TTL whose cutoff lands between the cold and warm populations' last
    versions, exactly the cold keys expire — and because fact state is
    group-bucketed, they occupy 5 of 50 groups' buckets."""
    i = F.col("id")
    k = i % n_keys
    j = (i / n_keys).cast("long")
    ts = F.lit(BASE_TS) + j * n_keys + k
    after = _state_row(k, j, j * 1.0)
    before = F.when(j > 0, _state_row(k, j - 1, (j - 1) * 1.0))
    op = F.when(j == 0, F.lit("c")).otherwise(F.lit("u"))
    return (
        spark.range(n_keys * versions)
        .filter(~((k % 50 < 5) & (j >= versions // 2)))
        .select(*_env("state", op, before, after, ts, i))
    )


def measure_agg_ttl_expiry(
    spark: SparkSession, n_keys: int, versions: int, tag: str
):
    """Expiry-pass cost on the cold-group fixture: the FIRST pass after
    a bulk build inherently scans every bucket (build-time bounds are
    batch minima ≈ 0 — no prior scan has tightened them), deletes the
    cold population, and tightens every bound to its bucket's actual
    surviving minimum; a SECOND pass after the watermark advances must
    then scan ZERO buckets.  ``ver`` doubles as the event-time column
    (monotone with rowtime by construction of the fixture)."""
    from flink_cdc_log_connectors_spark.streaming.aggregates import (
        ChangelogAggregate,
    )

    root = os.path.join(WORK, f"aggttl_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    # wm after build = versions-1, so cutoff = versions//2: cold keys'
    # last version (versions//2 - 1) expires, warm keys' survives
    ttl = versions - 1 - versions // 2
    agg = ChangelogAggregate(
        "state",
        STATE_SCHEMA,
        key="user_id",
        group_cols=["grp"],
        output_path=root,
        sum_cols=["value"],
        n_buckets=N_BUCKETS,
        ttl=ttl,
        ttl_col="ver",
    )
    build = agg_ttl_cold_build_envelopes(spark, n_keys, versions).persist()
    n = build.count()
    build_epochs = 4
    per = n_keys * versions // build_epochs
    for e in range(build_epochs):
        lo = e * per
        hi = (e + 1) * per if e < build_epochs - 1 else n_keys * versions
        agg.process_batch(
            build.filter((F.col("pos") >= lo) & (F.col("pos") < hi)),
            epoch_id=e,
        )
    build.unpersist()

    # stage the decision first (expire() reuses it) so the scan set and
    # bytes are reportable without instrumenting the class
    exp, _cutoff, _syn = agg._ttl_proto.stage(spark, build_epochs)
    full_bytes = _state_bytes(agg.fact_state)
    scan_bytes = _pruned_bytes(agg.fact_state, exp)
    t0 = time.perf_counter()
    agg.expire(spark, epoch_id=build_epochs)
    expiry_s = time.perf_counter() - t0
    expired = agg.expired_applied

    # advance the watermark SLIGHTLY (one update per probe key — a
    # steady stream's shape; the cutoff moves by 1 version, staying
    # below every tightened bound), then show the next expiry decision
    # scans ZERO buckets
    probe = agg_probe_envelopes(
        spark, n_keys, versions, 0, probe_rows=PROBE_KEYS
    ).persist()
    probe.count()
    agg.process_batch(probe, epoch_id=build_epochs + 1)
    probe.unpersist()
    exp2, _c2, _s2 = agg._ttl_proto.stage(spark, build_epochs + 2)

    view = agg.read_view(spark)
    groups = 0 if view is None else view.count()
    assert expired == n_keys // 10, f"expired {expired}, want {n_keys // 10}"
    # cold groups 0-4 tombstoned by the expiry, then re-opened by the
    # probe keys (grp 0-7) — the full 50 with fresh membership
    assert groups == 50, f"groups {groups}"
    return {
        "state_rows": n_keys,
        "expired_rows": expired,
        "first_expiry_s": round(expiry_s, 3),
        "first_scan_buckets": len(exp),
        "first_scan_bytes": scan_bytes,
        "state_bytes": full_bytes,
        "rescan_buckets_after_wm_advance": len(exp2),
    }


def main() -> None:
    quick = "--quick" in sys.argv
    # --legs=join,agg runs a subset (default: every leg)
    legs = {
        "temporal",
        "agg",
        "agg_ttl",
        "join",
        "join_dim",
        "join_ttl",
        "ingest",
        "retention",
        "witness",
        "tier",
    }
    for a in sys.argv:
        if a.startswith("--legs="):
            legs = set(a.split("=", 1)[1].split(","))
    scale = 0.1 if quick else 1.0
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stream_scale")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(WORK, exist_ok=True)
    out: dict = {"metric": "stream_scale_per_epoch", "unit": "sec"}

    def step(name, fn):
        out[name] = fn()
        print(f"# {name}: {json.dumps(out[name])}", file=sys.stderr)

    if "temporal" in legs:
        tj_keys = int(8_000 * scale)
        step("temporal_1x", lambda: measure_temporal(spark, tj_keys, 25, "1x"))
        step(
            "temporal_10x",
            lambda: measure_temporal(spark, tj_keys * 10, 25, "10x"),
        )
        out["temporal_ratio"] = round(
            out["temporal_10x"]["probe_epoch_s"]
            / out["temporal_1x"]["probe_epoch_s"],
            2,
        )

    if "agg" in legs:
        ag_keys = int(40_000 * scale)
        step("agg_1x", lambda: measure_agg(spark, ag_keys, 5, "1x"))
        step("agg_10x", lambda: measure_agg(spark, ag_keys * 10, 5, "10x"))
        out["agg_ratio"] = round(
            out["agg_10x"]["probe_epoch_s"] / out["agg_1x"]["probe_epoch_s"],
            2,
        )

    if "tier" in legs:
        # epoch_settings on both sides of its boundary: update batches
        # below and above _COMMIT_TASK_ROWS parsed rows, each run under
        # the small settings and the session's in alternating pairs
        step(
            "tier",
            lambda: measure_tier(
                spark,
                int(500_000 * scale),
                [
                    int(n * scale)
                    for n in (20_000, 100_000, 500_000, 1_000_000, 4_000_000)
                ],
                3,
            ),
        )

    if "agg_ttl" in legs:
        # r9 event-time state TTL: (a) steady state — a huge TTL means
        # nothing ever expires; per-epoch cost and jobs should match the
        # plain aggregate (the bounds check is metadata-only); (b) the
        # expiry pass — first pass after a bulk build scans all live
        # buckets (inherent), deletes exactly the cold population, and
        # tightens bounds so the next decision scans zero buckets
        ag_keys = int(40_000 * scale)
        step(
            "agg_ttl_steady_1x",
            lambda: measure_agg(
                spark, ag_keys, 5, "ts1", ttl=10**9, ttl_col="ver"
            ),
        )
        step(
            "agg_ttl_steady_10x",
            lambda: measure_agg(
                spark, ag_keys * 10, 5, "ts10", ttl=10**9, ttl_col="ver"
            ),
        )
        out["agg_ttl_steady_ratio"] = round(
            out["agg_ttl_steady_10x"]["probe_epoch_s"]
            / out["agg_ttl_steady_1x"]["probe_epoch_s"],
            2,
        )
        step(
            "agg_ttl_expiry_1x",
            lambda: measure_agg_ttl_expiry(spark, ag_keys, 10, "te1"),
        )
        step(
            "agg_ttl_expiry_10x",
            lambda: measure_agg_ttl_expiry(spark, ag_keys * 10, 10, "te10"),
        )

    if "join_ttl" in legs:
        # VERDICT r9 #3: TTL on the JOIN consumer, measured like the
        # aggregate's — (a) steady state: a huge TTL means nothing
        # expires; per-epoch cost should match the plain pruned join
        # (the two-sided stats agg replaces — not adds to — the plain
        # fused agg, and the bounds check is metadata-only); (b) the
        # expiry pass: scans all buckets once (build bounds are batch
        # minima), deletes exactly the cold 10%, rescans ZERO after a
        # small watermark advance
        jt_facts = int(20_000 * scale)
        step(
            "join_ttl_steady_1x",
            lambda: measure_join(
                spark, jt_facts, "jts1", True, left_ttl=10**15
            ),
        )
        step(
            "join_ttl_steady_10x",
            lambda: measure_join(
                spark, jt_facts * 10, "jts10", True, left_ttl=10**15
            ),
        )
        out["join_ttl_steady_ratio"] = round(
            out["join_ttl_steady_10x"]["probe_epoch_s"]
            / out["join_ttl_steady_1x"]["probe_epoch_s"],
            2,
        )
        step(
            "join_ttl_expiry_1x",
            lambda: measure_join_ttl_expiry(spark, jt_facts, "jte1"),
        )
        step(
            "join_ttl_expiry_10x",
            lambda: measure_join_ttl_expiry(spark, jt_facts * 10, "jte10"),
        )

    if "join" in legs:
        # dim-churn probe against 1× and 10× fact state, pruned layout
        # (bucket_left_by_join_col) vs the default key-bucketed scan —
        # the contrast that shows what the knob buys
        jn_facts = int(20_000 * scale)
        step(
            "join_pruned_1x",
            lambda: measure_join(spark, jn_facts, "p1", True),
        )
        step(
            "join_pruned_10x",
            lambda: measure_join(spark, jn_facts * 10, "p10", True),
        )
        out["join_pruned_ratio"] = round(
            out["join_pruned_10x"]["probe_epoch_s"]
            / out["join_pruned_1x"]["probe_epoch_s"],
            2,
        )
        step(
            "join_scan_1x",
            lambda: measure_join(spark, jn_facts, "s1", False),
        )
        step(
            "join_scan_10x",
            lambda: measure_join(spark, jn_facts * 10, "s10", False),
        )
        out["join_scan_ratio"] = round(
            out["join_scan_10x"]["probe_epoch_s"]
            / out["join_scan_1x"]["probe_epoch_s"],
            2,
        )

    if "join_dim" in legs:
        # VERDICT r8 #4 / r9 #2: fact state FIXED, dim state grown
        # 10×/100× — to 500k keys — (facts reference only the first
        # n_facts/FAN_OUT dim keys: the hot-subset shape of a large
        # dimension).  The wall-clock axis was noise-blunt at 50k dims
        # (SCALING.md r9); the deterministic readings are the BYTES the
        # probe epoch's enrichment actually opened — pre-r10 that was
        # the full dim store (O(dim) by construction), r10 prunes to
        # the batch's join-value buckets: pruned/full ≈ touched/total
        # buckets, and absolute pruned bytes per epoch track
        # dim_rows/n_buckets — the n_buckets sizing lever, shown by the
        # 100×-dim run repeated at 8× the bucket count.
        jd_facts = int(20_000 * scale)
        for mult, tag in ((1, "1x"), (10, "10x"), (100, "100x")):
            step(
                f"join_dim_{tag}",
                lambda m=mult, t=tag: measure_join(
                    spark, jd_facts, f"d{t}", True, n_dims=jd_facts // 4 * m
                ),
            )
        step(
            "join_dim_100x_wide",
            lambda: measure_join(
                spark,
                jd_facts,
                "d100w",
                True,
                n_buckets=N_BUCKETS * 8,
                n_dims=jd_facts // 4 * 100,
            ),
        )
        out["join_dim_ratio"] = round(
            out["join_dim_10x"]["probe_epoch_s"]
            / out["join_dim_1x"]["probe_epoch_s"],
            2,
        )
        for tag in ("1x", "10x", "100x", "100x_wide"):
            r = out[f"join_dim_{tag}"]
            out[f"join_dim_{tag}_bytes_pruned_vs_full"] = round(
                r["dim_read_bytes_pruned"] / r["dim_state_bytes_full"], 4
            )

    if "retention" in legs:
        # r9 history retention: stored rows should track the retention
        # window (~frac of versions + 1 reigning row per key), not the
        # appended total
        rt_keys = int(8_000 * scale)
        step(
            "retention_10pct",
            lambda: measure_retention(spark, rt_keys, 25, "r10", 0.1),
        )

    if "ingest" in legs:
        # VERDICT r8 #2: fixed probe batch vs the accumulated dedup
        # index grown 10× by doc count — per-batch cost and index-read
        # bytes should follow the batch's collision surface, not the
        # corpus
        in_docs = int(20_000 * scale)
        step("ingest_1x", lambda: measure_ingest(spark, in_docs, "1x"))
        step(
            "ingest_10x", lambda: measure_ingest(spark, in_docs * 10, "10x")
        )
        out["ingest_ratio"] = round(
            out["ingest_10x"]["probe_epoch_s"]
            / out["ingest_1x"]["probe_epoch_s"],
            2,
        )
        out["ingest_bytes_ratio_10x_pruned_vs_full"] = round(
            out["ingest_10x"]["bands_read_bytes_pruned"]
            / out["ingest_10x"]["bands_read_bytes_full"],
            3,
        )

    # Witness-scale job counts (n_buckets=8, the replay witnesses'
    # config): the number comparable to the r7 "~7 jobs/epoch" claim.
    # At n_buckets=256 the count above additionally includes file-index
    # listing + mergeSchema footer jobs that grow with PATH counts —
    # real bookkeeping at high bucket counts, but not driver actions of
    # the merge algorithm itself.
    if "witness" in legs:
        step(
            "temporal_witness_scale",
            lambda: measure_temporal(spark, 64, 4, "wit", n_buckets=8,
                                     probe_rows=200),
        )
        step(
            "agg_witness_scale",
            lambda: measure_agg(spark, 512, 4, "wit", n_buckets=8,
                                probe_rows=200),
        )
    print(json.dumps(out))
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()

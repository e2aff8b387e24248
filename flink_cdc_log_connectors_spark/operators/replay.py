"""Deterministic batch replays of the streaming CDC-join machinery.

The streaming operators (``streaming/joins.py``, ``streaming/
temporal_join.py``) are pytest-proven with memory-sink streams, but a
DuckDB value oracle cannot drive a stream — so these witnesses rebadge a
testdata table as a totally ordered CDC log, replay it through the REAL
``process_batch`` machinery in time-contiguous microbatches, and check
the materialized view against a declarative oracle.  This gives the
hardest streaming semantics (state upserts, deletes/tombstones,
incremental view maintenance) an on-the-driver-record correctness row
(VERDICT r5 next-round #7); the temporal-join twin lives in
``operators/temporal.py`` (``temporal_asof_replay``).

Reference behavior being witnessed: a continuous ``SELECT ... FROM facts
JOIN dims ...`` over two CDC tables stays current under inserts, updates
AND deletes on the dim side — the reference's flagship continuous-query
pattern (SURVEY §2.9 / §3.1, reference quickstart's orders⋈customers).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

#: one replay state dir per (process, prefix, sf_dir), removed at exit —
#: repeated harness calls (bench minima, scale smoke) REUSE the dir
#: instead of leaking a fresh mkdtemp each run; safe because the replay
#: is idempotent (same epochs, keyed upserts — pytest-proven for both
#: machineries), so re-processing on top of final state reproduces the
#: same view.
_REPLAY_DIRS: dict[tuple[str, str], str] = {}


def replay_state_dir(prefix: str, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    key = (prefix, sf_dir)
    path = _REPLAY_DIRS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"{prefix}_")
        _REPLAY_DIRS[key] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


#: PK-changing updates rename their key by this offset — far outside the
#: events table's user_id domain (0..~149), so renamed keys collide with
#: nothing and are reachable only through the envelopes that created them.
RENAME_OFFSET = 1_000_000


def _assert_unique_ts(base: DataFrame) -> None:
    """The replay fixtures use the microsecond rowtime as the log position
    AND as the oracle's ROW_NUMBER tie-break, so determinism of both the
    engine replay and the DuckDB oracle rests on globally unique event
    timestamps (ADVICE r6: enforce it instead of assuming it)."""
    n, d = base.agg(
        F.count(F.lit(1)), F.countDistinct("ts_us")
    ).first()
    if n != d:
        raise ValueError(
            "replay fixture requires globally unique event timestamps "
            f"(ts doubles as log pos / oracle tie-break): {n} rows but "
            f"only {d} distinct ts_us"
        )


#: (session id, sf_dir, fact_ts) → (session, events mtime_ns, size,
#: persisted envelope frame) — the join twin of ``_KEYED_ENV_CACHE``
#: (r11 bench diet): both join witnesses replay this fixture and bench
#: runs each twice in one process, so memoizing saves three rebuilds
#: (two unions of window-heavy json encodes) per round.  Same lifetime
#: discipline: session held strongly, identity-checked on hit,
#: superseded entries unpersisted.  Callers must NOT unpersist it.
_JOIN_ENV_CACHE: dict[
    tuple[int, str, bool], tuple[SparkSession, int, int, DataFrame]
] = {}


def _join_cdc_fixture(spark: SparkSession, sf_dir: str, fact_ts: bool = False):
    """Two-table CDC log fixture shared by the join replay witnesses —
    returns ``(raw_envelopes, left JoinSide, right JoinSide)``; see
    :func:`changelog_join_replay_query` for the op mix it encodes.  With
    ``fact_ts`` the fact payload additionally carries its microsecond
    rowtime as ``fts`` (the TTL witness's event-time column).  The
    envelope frame is memoized per (session, sf_dir, fact_ts) — callers
    must not unpersist it."""
    from pyspark.sql import types as T

    from ..functions.datetime import epoch_micros
    from ..streaming.joins import JoinSide

    fact_fields = [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
    if fact_ts:
        fact_fields.append(T.StructField("fts", T.LongType()))
    fact_schema = T.StructType(fact_fields)
    dim_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    left = JoinSide(
        table="facts", physical=fact_schema, key="event_id", join_col="user_id"
    )
    right = JoinSide(
        table="dims", physical=dim_schema, key="user_id", join_col="user_id"
    )

    stat = os.stat(os.path.join(sf_dir, "events.parquet"))
    cache_key = (id(spark), sf_dir, fact_ts)
    entry = _JOIN_ENV_CACHE.get(cache_key)
    if entry is not None:
        c_spark, c_mtime, c_size, c_raw = entry
        if (
            c_spark is spark
            and c_mtime == stat.st_mtime_ns
            and c_size == stat.st_size
        ):
            return c_raw, left, right
        del _JOIN_ENV_CACHE[cache_key]
        try:
            c_raw.unpersist(False)
        except Exception:
            pass  # its session may already be stopped

    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        epoch_micros("ts").alias("ts_us"),
        F.dayofmonth("ts").alias("day"),
    )
    _assert_unique_ts(base)

    def _src(table: str) -> Column:
        return F.struct(
            F.lit("replay").alias("db"),
            F.lit(table).alias("table"),
            F.col("ts_us").alias("ts_ms"),
            F.lit("log.0").alias("file"),
            F.col("ts_us").alias("pos"),
        )

    e = F.col("event_id")
    dim_img = F.struct(
        F.col("user_id"),
        F.col("value").alias("score"),
        e.alias("ver"),
    )
    # the PK-changing update's after-image lands under a RENAMED key
    ren_img = F.struct(
        (F.col("user_id") + RENAME_OFFSET).alias("user_id"),
        F.col("value").alias("score"),
        e.alias("ver"),
    )
    # rename before-image: a vivid ghost marker — if machinery ever fails
    # to retract it, facts join score=-1.0/ver=0 rows the oracle rejects
    ren_before = F.struct(
        F.col("user_id"),
        F.lit(-1.0).alias("score"),
        F.lit(0).cast("long").alias("ver"),
    )
    # a synthetic stale before-image for key-STABLE update envelopes:
    # only its presence matters (img_seq ranking must pick the after)
    dim_before = F.struct(
        F.col("user_id"),
        F.lit(0.0).alias("score"),
        F.lit(0).cast("long").alias("ver"),
    )
    is_del = e % 10 == 0
    is_ren = (~is_del) & (e % 8 == 2)
    is_upd = (~is_del) & (e % 8 == 6)
    dim_env = base.filter(e % 2 == 0).select(
        F.to_json(
            F.struct(
                F.when(is_del, dim_img)
                .when(is_ren, ren_before)
                .when(is_upd, dim_before)
                .alias("before"),
                F.when(is_ren, ren_img)
                .when(~is_del, dim_img)
                .alias("after"),
                F.when(is_del, F.lit("d"))
                .when(is_ren | is_upd, F.lit("u"))
                .otherwise(F.lit("c"))
                .alias("op"),
                F.col("ts_us").alias("ts_ms"),
                _src("dims").alias("source"),
            )
        ).alias("value"),
        F.lit("log.0").alias("file"),
        F.col("ts_us").alias("pos"),
        "day",
    )
    # every %20==1 fact points at a RENAMED key: it must enrich from the
    # rename's after-image (or drop out, if its user was never renamed)
    fact_uid = F.when(
        e % 20 == 1, F.col("user_id") + RENAME_OFFSET
    ).otherwise(F.col("user_id"))
    fact_after = [
        e.alias("event_id"),
        fact_uid.alias("user_id"),
        F.col("value"),
    ]
    if fact_ts:
        fact_after.append(F.col("ts_us").alias("fts"))
    fact_env = base.filter(e % 2 == 1).select(
        F.to_json(
            F.struct(
                F.struct(*fact_after).alias("after"),
                F.lit("c").alias("op"),
                F.col("ts_us").alias("ts_ms"),
                _src("facts").alias("source"),
            )
        ).alias("value"),
        F.lit("log.0").alias("file"),
        F.col("ts_us").alias("pos"),
        "day",
    )
    raw = dim_env.unionByName(fact_env).persist()
    _JOIN_ENV_CACHE[cache_key] = (
        spark, stat.st_mtime_ns, stat.st_size, raw
    )
    return raw, left, right


def changelog_join_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for the incrementally-maintained CDC join
    (``streaming/joins.py`` ``ChangelogJoin``).

    The events table becomes one ordered change log carrying two tables:

    - dims  (``event_id % 2 == 0``): upserts of (user_id → score, ver) at
      the event timestamp; every 5th (``% 10 == 0``) is a DELETE,
      ``% 8 == 6`` arrives as a key-STABLE UPDATE envelope (before+after
      images, same key), and ``% 8 == 2`` arrives as a PK-CHANGING
      UPDATE envelope — before-image keyed ``user_id``, after-image
      keyed ``user_id + RENAME_OFFSET`` — so the latest-state semantics
      face inserts, updates, deletes, delete-then-reinsert sequences,
      AND key renames per key;
    - facts (``event_id % 2 == 1``): insert-only (event_id, user_id,
      value) rows joining the dim on user_id; every ``% 20 == 1`` fact
      references a RENAMED key (``user_id + RENAME_OFFSET``), proving
      the rename's after-image landed under the new key.

    Replayed through ``ChangelogJoin.process_batch`` in two
    time-contiguous microbatches (log position = microsecond rowtime —
    unique and monotone, ASSERTED below, so per-key last-write-wins
    agrees across batch boundaries).  The checked view is the final
    materialized inner join: every fact whose user's LATEST dim log
    entry is live (not a delete and not renamed away), enriched with
    that latest state — exactly the oracle's row_number-over-rowtime
    formulation with the rename's UPDATE_BEFORE image closing the old
    key.

    This fixture DISCRIMINATES the r6 UPDATE_BEFORE fix
    (``sources/debezium.py`` ``retract_before_images``): pre-fix
    machinery drops the rename's before-image instead of retracting it,
    leaving a live-looking ghost (score ``-1.0``, ver ``0``) under the
    OLD key forever — every fact whose user's last dim entry is a
    rename would then join the ghost and appear in the view, which the
    oracle (old key closed at the rename) rejects: the pre-fix engine
    FAILS this oracle on both row count and values.
    """
    from ..streaming.joins import ChangelogJoin

    raw, left, right = _join_cdc_fixture(spark, sf_dir)
    join = ChangelogJoin(
        left,
        right,
        replay_state_dir("cj_replay", sf_dir),
        how="inner",
        n_buckets=8,
        # the scale-path layout (fact state bucketed by join column —
        # every per-batch fact read prunes to the batch's dim-key
        # buckets): this fixture is the dim-churn-dominant shape the
        # knob exists for, so the driver record proves the pruned path
        # under deletes, renames, and re-enrichment
        bucket_left_by_join_col=True,
    )
    # two microbatches — see _replay_keyed_batches (r11 bench diet)
    for epoch, (lo, hi) in enumerate(((1, 15), (16, 31))):
        join.process_batch(
            raw.filter(F.col("day").between(lo, hi)).select(
                "value", "file", "pos"
            ),
            epoch_id=epoch,
        )
    view = join.read_view(spark)
    return view.select(
        "event_id", "user_id", "value", "r_score", "r_ver"
    ).orderBy("event_id")


#: Latest-live-state oracle with UPDATE_BEFORE retraction semantics: a
#: PK-changing update (%8==2, non-delete) contributes TWO log entries —
#: a 'd' closing the OLD key (img 0) and a 'c' opening the RENAMED key
#: (img 1).  Key-stable updates' before-images are shadowed by their own
#: after-image at the same (key, ts, higher img), so only the 'c' row is
#: emitted for them.  A pre-r6 engine (before-images dropped instead of
#: retracted) leaves ghosts under old keys and FAILS this oracle.
CHANGELOG_JOIN_REPLAY_SQL = """
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value FROM events
),
de AS (SELECT * FROM ev WHERE event_id % 2 = 0),
dim_log AS (
  SELECT CASE WHEN event_id % 10 <> 0 AND event_id % 8 = 2
              THEN user_id + 1000000 ELSE user_id END AS user_id,
         value AS score, event_id AS ver, ts_us, 1 AS img,
         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'c' END AS op
  FROM de
  UNION ALL
  SELECT user_id, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), ts_us, 0, 'd'
  FROM de WHERE event_id % 10 <> 0 AND event_id % 8 = 2
),
dim_latest AS (
  SELECT user_id, score, ver FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, img DESC) AS rk
    FROM dim_log
  ) WHERE rk = 1 AND op <> 'd'
)
SELECT f.event_id, f.user_id, f.value,
       d.score AS r_score, d.ver AS r_ver
FROM (SELECT event_id,
             CASE WHEN event_id % 20 = 1 THEN user_id + 1000000
                  ELSE user_id END AS user_id,
             value
      FROM ev WHERE event_id % 2 = 1) f
JOIN dim_latest d ON d.user_id = f.user_id
ORDER BY f.event_id
"""


# --------------------------------------------------------------------------
# Keyed single-table CDC fixture shared by the GROUP BY and Top-N replay
# witnesses (r7: VERDICT r6 next-round #1b/#3).
# --------------------------------------------------------------------------

#: per-key op cycle by position i (ROW_NUMBER over the key's events):
#: (i-1) % 8 → 0:INSERT 1:UPDATE 2:UPDATE 3:DELETE 4:INSERT 5:UPDATE
#: 6:UPDATE 7:PK-RENAME.  The cycle is WELL-FORMED CDC by construction —
#: inserts only on dead keys, updates/deletes/renames only on live keys —
#: so ``lag(after_image)`` over the key's event sequence IS the true
#: current row, exactly what a real Debezium before-image carries.  (The
#: IVM views' touched-group tracking relies on before-images being real:
#: a delete whose before-image lied about the row's group would leave the
#: actual group stale — a malformed log, not an engine defect.)
_CYCLE_DELETE = 3
_CYCLE_RENAME = 7


#: (session id, sf_dir) → (session, events mtime_ns, events size,
#: persisted envelope frame).  SEVEN keyed-state witnesses replay this
#: identical fixture, and bench runs them all (twice) in one process —
#: memoizing saves six rebuilds (window + json encode + uniqueness
#: assert) per round at the cost of one small cached frame (VERDICT r9
#: #5, bench diet).  Callers must NOT unpersist it.  The stored SESSION
#: is part of the value, not just ``id()`` in the key (ADVICE r10):
#: holding it both prevents CPython from recycling a GC'd session's id
#: onto a new session (the strong ref keeps the object alive) and lets
#: the lookup verify identity before returning; a superseded entry for
#: the same (session, sf_dir) — a regenerated dataset — is unpersisted
#: and replaced instead of pinning the stale frame for process lifetime.
_KEYED_ENV_CACHE: dict[
    tuple[int, str], tuple[SparkSession, int, int, DataFrame]
] = {}


def _keyed_state_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebadge the events table as one well-formed CDC log of a single
    table ``state`` keyed by ``user_id`` with a NULLABLE group column:

    - ``grp`` = NULL when ``event_id % 7 == 0`` else ``event_id % 7`` —
      a key's group CHANGES across its updates (re-pointing), and NULL
      is a real, populated group (SQL GROUP BY semantics);
    - ops follow the per-key positional cycle above: genuine
      insert→update→delete→re-insert→…→PK-RENAME sequences, every
      before-image the key's true current row, every rename's
      after-image under the globally fresh key ``event_id + 1000000``.

    Returned envelopes carry (value, file, pos, day); log position =
    microsecond rowtime (unique — asserted).  Memoized per (session,
    sf_dir) — see ``_KEYED_ENV_CACHE``."""
    from pyspark.sql.window import Window

    from ..functions.datetime import epoch_micros

    # the events file's (mtime, size) gates the hit: a regenerated
    # dataset at the same sf_dir within one process must miss the cache,
    # not silently replay stale envelopes against a fresh oracle (r10
    # code review) — and the superseded frame is unpersisted, not left
    # pinned (ADVICE r10)
    src = os.path.join(sf_dir, "events.parquet")
    stat = os.stat(src)
    cache_key = (id(spark), sf_dir)
    entry = _KEYED_ENV_CACHE.get(cache_key)
    if entry is not None:
        c_spark, c_mtime, c_size, c_env = entry
        if (
            c_spark is spark
            and c_mtime == stat.st_mtime_ns
            and c_size == stat.st_size
        ):
            return c_env
        del _KEYED_ENV_CACHE[cache_key]
        try:
            c_env.unpersist(False)
        except Exception:
            pass  # its session may already be stopped

    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        epoch_micros("ts").alias("ts_us"),
        F.dayofmonth("ts").alias("day"),
    )
    _assert_unique_ts(base)

    e = F.col("event_id")
    grp = F.when(e % 7 != 0, (e % 7).cast("long"))
    w = Window.partitionBy("user_id").orderBy("ts_us")
    p = (F.row_number().over(w) - 1) % 8
    # the key's own after-image (renames land elsewhere — see ren_img)
    u_img = F.struct(
        F.col("user_id"),
        grp.alias("grp"),
        F.col("value"),
        e.alias("ver"),
        F.col("ts_us").alias("ets"),
    )
    ren_img = F.struct(
        (e + RENAME_OFFSET).alias("user_id"),
        grp.alias("grp"),
        F.col("value"),
        e.alias("ver"),
        F.col("ts_us").alias("ets"),
    )
    prev_img = F.lag(u_img).over(w)  # true current row for U/D/R positions
    op = (
        F.when(p == _CYCLE_DELETE, F.lit("d"))
        .when(p.isin(0, 4), F.lit("c"))
        .otherwise(F.lit("u"))
    )
    before = F.when(op != "c", prev_img)
    after = F.when(
        op != "d", F.when(p == _CYCLE_RENAME, ren_img).otherwise(u_img)
    )
    env = base.select(
        F.to_json(
            F.struct(
                before.alias("before"),
                after.alias("after"),
                op.alias("op"),
                F.col("ts_us").alias("ts_ms"),
                F.struct(
                    F.lit("replay").alias("db"),
                    F.lit("state").alias("table"),
                    F.col("ts_us").alias("ts_ms"),
                    F.lit("log.0").alias("file"),
                    F.col("ts_us").alias("pos"),
                ).alias("source"),
            )
        ).alias("value"),
        F.lit("log.0").alias("file"),
        F.col("ts_us").alias("pos"),
        "day",
    ).persist()
    _KEYED_ENV_CACHE[cache_key] = (
        spark, stat.st_mtime_ns, stat.st_size, env
    )
    return env


def _keyed_state_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("grp", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ver", T.LongType()),
            # event-time payload column (micros): the rowtime of the event
            # that created this row VERSION — carried through before-images
            # by the lag, so a continuous aggregate bucketed on it touches
            # the bucket the row actually sits in
            T.StructField("ets", T.LongType()),
        ]
    )


def _replay_keyed_batches(consumer_process_batch, env: DataFrame) -> None:
    # two time-contiguous microbatches (r11 bench diet; was three): the
    # witnesses are fixed-overhead-bound (~1.4 s per state upsert at any
    # sf — measured flat from 10k to 100k rows), so epochs are the cost
    # unit.  Two keeps every semantic the third added nothing to:
    # cross-batch per-key op sequences, mid-replay TTL expiry (epoch 1's
    # cutoff = day-15 watermark - 12 days reaches ~day 3), and the final
    # pass's tail flush (cutoff ~day 19).
    for epoch, (lo, hi) in enumerate(((1, 15), (16, 31))):
        consumer_process_batch(
            env.filter(F.col("day").between(lo, hi)).select(
                "value", "file", "pos"
            ),
            epoch_id=epoch,
        )


def _fresh_expire_epoch(default: int, *tables) -> int:
    """A provably-fresh epoch id for a witness's final ``expire()``
    pass: ``default`` on a fresh state dir, else one past the highest
    committed epoch.  Needed because ``expire()`` now REFUSES recycled
    ids (ADVICE r9 — a recycled id silently no-ops the retractions
    while sealing the expiry bounds): a harness re-run over the
    persisted dir replays the data epochs with the final-pass epoch
    already committed, so the hardcoded ``default`` would be refused.
    The view converges identically under any id strictly above every
    committed epoch (the retractions win the changelog merge)."""
    from ..streaming.ttl import max_committed_epoch

    mx = max_committed_epoch(*tables)
    return default if mx is None else max(default, mx + 1)


#: latest-live-state CTE shared by both oracles: after-images of
#: I/U/R positions are 'c' rows under their after key (a key-stable
#: update's retracted before-image is shadowed by its own after-image at
#: the same key/ts/higher img, so it needs no row); DELETE positions and
#: the RENAME's retracted before-image close their key.
_KEYED_LIVE_CTE = """
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value FROM events
),
seq AS (
  SELECT *,
         (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us) - 1) % 8
           AS p
  FROM ev
),
log AS (
  SELECT CASE WHEN p = 7 THEN event_id + 1000000 ELSE user_id END AS k,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_id % 7 END AS grp,
         value, event_id AS ver, ts_us AS ets, ts_us, 1 AS img, 'c' AS op
  FROM seq WHERE p <> 3
  UNION ALL
  SELECT user_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), ts_us, 0, 'd'
  FROM seq WHERE p IN (3, 7)
),
live AS (
  SELECT k AS user_id, grp, value, ver, ets FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                 ORDER BY ts_us DESC, img DESC) AS rk
    FROM log
  ) WHERE rk = 1 AND op <> 'd'
)
"""


def changelog_agg_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay witness for the incrementally-maintained GROUP BY view
    (``streaming/aggregates.py`` ``ChangelogAggregate``), driven by the
    well-formed keyed CDC fixture (NULL groups, group re-pointing
    updates, deletes, delete-then-reinsert, PK-CHANGING renames) in
    two time-contiguous microbatches; oracle = GROUP BY over the
    materialized latest live state (reference pattern:
    ``MySqlConnectorITCase.java:186`` — a continuous aggregate stays
    exact under the full CDC op mix).

    DISCRIMINATES two r6 fixes: (a) the NULL-group fix — SQL GROUP BY
    keeps NULL as a real group, but pre-fix null-UNSAFE membership
    joins silently dropped (then tombstoned) the NULL group, so the
    pre-fix view is MISSING the oracle's NULL-group row; (b) the
    UPDATE_BEFORE fix — pre-fix machinery leaves a rename's
    before-image live under the OLD key, inflating that ghost's group
    count/sum/min/max.  Either pre-fix behavior fails this oracle.
    """
    from ..streaming.aggregates import ChangelogAggregate

    env = _keyed_state_envelopes(spark, sf_dir)
    agg = ChangelogAggregate(
        "state",
        _keyed_state_schema(),
        key="user_id",
        group_cols=["grp"],
        output_path=replay_state_dir("agg_replay", sf_dir),
        sum_cols=["value"],
        minmax_cols=["value"],
        n_buckets=8,
    )
    _replay_keyed_batches(agg.process_batch, env)
    view = agg.read_view(spark)
    # round the float sum on BOTH sides: values are 2-decimal, but Spark
    # and DuckDB add doubles in different orders (ulp-level drift)
    return view.select(
        "grp",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("grp")


CHANGELOG_AGG_REPLAY_SQL = (
    _KEYED_LIVE_CTE
    + """
SELECT grp, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM live GROUP BY grp ORDER BY grp
"""
)


#: 12 days in micros — sized so the SECOND batch's cutoff (epoch 0's
#: watermark ≈ day 15, minus TTL) ages out facts last touched before
#: ≈ day 3 mid-replay, and the final expiry pass (wm ≈ day 31) ages out
#: everything before ≈ day 19
_AGG_TTL_US = 12 * 86_400_000_000


def changelog_agg_ttl_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for EVENT-TIME STATE TTL on the maintained GROUP BY
    view (``streaming/aggregates.py`` — the deterministic twin of Flink's
    ``table.exec.state.ttl``, whose processing-time expiry the reference's
    Flink SQL consumers use to bound changelog-aggregate state): same
    keyed CDC fixture and grouping as ``changelog_agg_replay``, but facts
    whose latest version's event time falls ``_AGG_TTL_US`` behind the
    stored watermark are retracted from the view and deleted from fact
    state as the replay progresses.  RAISES unless expiry fired
    MID-REPLAY (epoch 1's cutoff reaches ≈ day 3) — the final
    :meth:`expire` pass alone must not be what satisfies the oracle.
    Oracle = GROUP BY over the latest live state RESTRICTED to facts
    inside the retention window at the final watermark (max after-image
    event time) — expiry is monotone (watermarks only grow), so
    mid-stream passes are a prefix of the final predicate.
    """
    from ..streaming.aggregates import ChangelogAggregate

    env = _keyed_state_envelopes(spark, sf_dir)
    agg = ChangelogAggregate(
        "state",
        _keyed_state_schema(),
        key="user_id",
        group_cols=["grp"],
        output_path=replay_state_dir("agg_ttl_replay", sf_dir),
        sum_cols=["value"],
        minmax_cols=["value"],
        n_buckets=8,
        ttl=_AGG_TTL_US,
        ttl_col="ets",
    )
    # strictness asserts apply to the FIRST run on a fresh state dir; a
    # harness re-run over the persisted dir replays with the final
    # watermark already stored, which front-loads expiry into the replay
    # epochs and leaves nothing for the final pass (the view still
    # converges to the same oracle)
    fresh = agg._ttl_proto.load_wm() is None
    _replay_keyed_batches(agg.process_batch, env)
    if fresh and agg.expired_applied == 0:
        raise AssertionError(
            "TTL witness never expired a fact mid-replay — the per-epoch "
            "expiry path was not exercised"
        )
    mid = agg.expired_applied
    agg.expire(
        spark, epoch_id=_fresh_expire_epoch(3, agg.fact_state, agg.output)
    )
    if fresh and agg.expired_applied <= mid:
        raise AssertionError(
            "final expire() pass retracted nothing — fixture/TTL sizing "
            "no longer exercises the tail flush"
        )
    view = agg.read_view(spark)
    return view.select(
        "grp",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("grp")


CHANGELOG_AGG_TTL_REPLAY_SQL = (
    _KEYED_LIVE_CTE
    + f"""
SELECT grp, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM live
WHERE ets > (SELECT MAX(ets) FROM log) - {_AGG_TTL_US}
GROUP BY grp ORDER BY grp
"""
)


def changelog_agg_idle_expiry_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for IDLE-STREAM EXPIRY (``streaming/epochs.py`` —
    VERDICT r9 What's-missing #6; Flink's background state-TTL cleanup
    timers are the analogue): the ``changelog_agg_ttl_replay`` fixture
    fed through an :class:`EpochSequencer`, after which the stream
    QUIESCES — no more data batches, no manual ``expire()``.  The idle
    monitor's ticks (the same ``on_trigger`` the deployable rate-source
    ticker drives) must detect the quiet period and flush the expirable
    tail under a sequencer-allocated fresh epoch, making the view equal
    the retention-window oracle.  RAISES unless expiry fired mid-replay
    AND the idle flush itself retracted rows (fresh-dir gated).

    The advisory monitor state file is removed up front so harness
    re-runs observe a fresh quiet period (trigger ids advance past the
    prior run's, so the sequencer allocates a genuinely fresh epoch and
    the flush re-retracts what the replayed epochs re-inserted)."""
    from ..streaming.aggregates import ChangelogAggregate
    from ..streaming.epochs import (
        EpochSequencer,
        IdleExpiryMonitor,
        sequenced_process_batch,
    )

    env = _keyed_state_envelopes(spark, sf_dir)
    agg = ChangelogAggregate(
        "state",
        _keyed_state_schema(),
        key="user_id",
        group_cols=["grp"],
        output_path=replay_state_dir("agg_idle_replay", sf_dir),
        sum_cols=["value"],
        minmax_cols=["value"],
        n_buckets=8,
        ttl=_AGG_TTL_US,
        ttl_col="ets",
    )
    fresh = agg._ttl_proto.load_wm() is None
    seq = EpochSequencer(agg.output.path)
    feed = sequenced_process_batch(agg, seq)
    # two microbatches — see _replay_keyed_batches (r11 bench diet)
    for src_epoch, (lo, hi) in enumerate(((1, 15), (16, 31))):
        feed(
            env.filter(F.col("day").between(lo, hi)).select(
                "value", "file", "pos"
            ),
            src_epoch,
        )
    if fresh and agg.expired_applied == 0:
        raise AssertionError(
            "idle-expiry witness never expired a fact mid-replay — the "
            "per-epoch expiry path was not exercised"
        )
    mid = agg.expired_applied
    mon = IdleExpiryMonitor(agg, seq, idle_triggers=1)
    try:
        os.remove(mon._state_path)
    except FileNotFoundError:
        pass
    fired = False
    base = seq.last() + 1  # strictly past every prior run's trigger ids
    for i in range(4):
        if mon.on_trigger(spark, base + i):
            fired = True
            break
    if not fired:
        raise AssertionError(
            "idle ticker never flushed the quiesced stream"
        )
    if fresh and agg.expired_applied <= mid:
        raise AssertionError(
            "idle flush retracted nothing — fixture/TTL sizing no longer "
            "exercises the quiesced tail"
        )
    view = agg.read_view(spark)
    return view.select(
        "grp",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("grp")


def changelog_join_ttl_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for FACT-SIDE EVENT-TIME STATE TTL on the
    incrementally-maintained CDC join (``streaming/joins.py`` — the
    deterministic twin of the ``table.exec.state.ttl`` Flink users set
    to bound a regular join's otherwise-unbounded state): the
    ``changelog_join_replay`` fixture with fact rowtimes (``fts``),
    replayed under the PRUNED fact layout (``bucket_left_by_join_col``)
    so the driver record proves TTL expiry and join-column bucket
    pruning compose.  Facts older than ``_AGG_TTL_US`` behind the
    persisted watermark are tombstoned out of the join view and deleted
    from fact state; dims never expire (the enrichment side is
    slowly-changing by design).  RAISES unless expiry fired MID-REPLAY
    and again in the final :meth:`expire` pass.  Oracle = the plain
    join oracle restricted to facts inside the retention window at the
    final watermark (expiry is monotone, so mid-stream passes are a
    prefix of the final predicate)."""
    from ..streaming.joins import ChangelogJoin

    raw, left, right = _join_cdc_fixture(spark, sf_dir, fact_ts=True)
    join = ChangelogJoin(
        left,
        right,
        replay_state_dir("cj_ttl_replay", sf_dir),
        how="inner",
        n_buckets=8,
        bucket_left_by_join_col=True,
        left_ttl=_AGG_TTL_US,
        left_ttl_col="fts",
    )
    # fresh-dir gate: see changelog_agg_ttl_replay_query
    fresh = join._ttl_proto.load_wm() is None
    # two microbatches — see _replay_keyed_batches (r11 bench diet)
    for epoch, (lo, hi) in enumerate(((1, 15), (16, 31))):
        join.process_batch(
            raw.filter(F.col("day").between(lo, hi)).select(
                "value", "file", "pos"
            ),
            epoch_id=epoch,
        )
    if fresh and join.expired_applied == 0:
        raise AssertionError(
            "join TTL witness never expired a fact mid-replay — the "
            "per-epoch expiry path was not exercised"
        )
    mid = join.expired_applied
    join.expire(
        spark,
        epoch_id=_fresh_expire_epoch(
            3, join.left_state, join.right_state, join.output
        ),
    )
    if fresh and join.expired_applied <= mid:
        raise AssertionError(
            "final expire() pass retracted nothing — fixture/TTL sizing "
            "no longer exercises the tail flush"
        )
    view = join.read_view(spark)
    return view.select(
        "event_id", "user_id", "value", "fts", "r_score", "r_ver"
    ).orderBy("event_id")


CHANGELOG_JOIN_TTL_REPLAY_SQL = f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value FROM events
),
de AS (SELECT * FROM ev WHERE event_id % 2 = 0),
dim_log AS (
  SELECT CASE WHEN event_id % 10 <> 0 AND event_id % 8 = 2
              THEN user_id + 1000000 ELSE user_id END AS user_id,
         value AS score, event_id AS ver, ts_us, 1 AS img,
         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'c' END AS op
  FROM de
  UNION ALL
  SELECT user_id, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), ts_us, 0, 'd'
  FROM de WHERE event_id % 10 <> 0 AND event_id % 8 = 2
),
dim_latest AS (
  SELECT user_id, score, ver FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, img DESC) AS rk
    FROM dim_log
  ) WHERE rk = 1 AND op <> 'd'
)
SELECT f.event_id, f.user_id, f.value, f.fts,
       d.score AS r_score, d.ver AS r_ver
FROM (SELECT event_id,
             CASE WHEN event_id % 20 = 1 THEN user_id + 1000000
                  ELSE user_id END AS user_id,
             value, ts_us AS fts
      FROM ev WHERE event_id % 2 = 1) f
JOIN dim_latest d ON d.user_id = f.user_id
WHERE f.fts > (SELECT MAX(ts_us) FROM ev WHERE event_id % 2 = 1)
              - {_AGG_TTL_US}
ORDER BY f.event_id
"""


def changelog_topn_ttl_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for EVENT-TIME STATE TTL on the maintained Top-N
    view (``streaming/topn.py`` — the deterministic twin of the
    ``table.exec.state.ttl`` Flink users set to bound the rank
    operator's state): the keyed CDC fixture ranked n=3 per group, with
    facts older than ``_AGG_TTL_US`` behind the persisted watermark
    retracted as the replay progresses — expiry of a RANKED row forces
    promotions, and fully-expired partitions tombstone out of the view.
    RAISES unless expiry fired MID-REPLAY and again in the final
    :meth:`expire` pass.  Oracle = row_number over the latest live state
    RESTRICTED to the retention window at the final watermark."""
    from ..streaming.topn import ChangelogTopN

    env = _keyed_state_envelopes(spark, sf_dir)
    topn = ChangelogTopN(
        "state",
        _keyed_state_schema(),
        key="user_id",
        partition_cols=["grp"],
        order_col="value",
        n=3,
        output_path=replay_state_dir("topn_ttl_replay", sf_dir),
        n_buckets=8,
        ttl=_AGG_TTL_US,
        ttl_col="ets",
    )
    # fresh-dir gate: see changelog_agg_ttl_replay_query
    fresh = topn._ttl_proto.load_wm() is None
    _replay_keyed_batches(topn.process_batch, env)
    if fresh and topn.expired_applied == 0:
        raise AssertionError(
            "Top-N TTL witness never expired a fact mid-replay — the "
            "per-epoch expiry path was not exercised"
        )
    mid = topn.expired_applied
    topn.expire(
        spark,
        epoch_id=_fresh_expire_epoch(3, topn.fact_state, topn.output),
    )
    if fresh and topn.expired_applied <= mid:
        raise AssertionError(
            "final expire() pass retracted nothing — fixture/TTL sizing "
            "no longer exercises the tail flush"
        )
    view = topn.read_view(spark)
    return view.orderBy("grp", "rn")


CHANGELOG_TOPN_TTL_REPLAY_SQL = (
    _KEYED_LIVE_CTE
    + f"""
SELECT grp, rn, user_id, value, ver, ets FROM (
  SELECT grp, user_id, value, ver, ets,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY value DESC, user_id ASC) AS rn
  FROM live
  WHERE ets > (SELECT MAX(ets) FROM log) - {_AGG_TTL_US}
) WHERE rn <= 3 ORDER BY grp, rn
"""
)


def changelog_topn_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay witness for the incrementally-maintained Top-N view
    (``streaming/topn.py`` ``ChangelogTopN``; Flink's ROW_NUMBER-over-
    changelog Top-N pattern), n=3 per group over the same well-formed
    keyed CDC fixture; oracle = row_number over the materialized latest
    live state.  Deletes of top-ranked keys across batch boundaries
    force rank PROMOTIONS; the NULL group is a real Top-N partition
    (pre-r6 null-unsafe machinery drops it — row-count mismatch), and
    un-retracted rename ghosts (pre-r6) hold rank slots the oracle
    assigns to live rows.  Either pre-fix behavior fails this oracle.
    """
    from ..streaming.topn import ChangelogTopN

    env = _keyed_state_envelopes(spark, sf_dir)
    topn = ChangelogTopN(
        "state",
        _keyed_state_schema(),
        key="user_id",
        partition_cols=["grp"],
        order_col="value",
        n=3,
        output_path=replay_state_dir("topn_replay", sf_dir),
        n_buckets=8,
    )
    _replay_keyed_batches(topn.process_batch, env)
    view = topn.read_view(spark)
    return view.orderBy("grp", "rn")


CHANGELOG_TOPN_REPLAY_SQL = (
    _KEYED_LIVE_CTE
    + """
SELECT grp, rn, user_id, value, ver, ets FROM (
  SELECT grp, user_id, value, ver, ets,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY value DESC, user_id ASC) AS rn
  FROM live
) WHERE rn <= 3 ORDER BY grp, rn
"""
)


#: one-day buckets over the event-time payload column (micros)
_CAGG_BUCKET_US = 86_400_000_000


def changelog_cagg_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay witness for the CDC-maintained CONTINUOUS AGGREGATE — the
    ``derive=`` path of ``ChangelogAggregate``: the view groups by a
    DERIVED column (one-day ``time_bucket`` over the row's event-time
    payload ``ets``), the TimescaleDB-style continuous aggregate kept
    exact by the change stream (SURVEY hypertable family, maintained
    incrementally rather than recomputed).

    The semantics this uniquely witnesses: an update that MOVES a row
    across buckets (its after-image carries a new ``ets``) must retract
    from the bucket the row LEFT and add to the one it entered — the
    before-image carries the row's true previous ``ets`` (the
    well-formed fixture guarantees it), so both buckets are touched and
    recompute.  Deletes and PK-renames retract from the row's actual
    current bucket.  Oracle = GROUP BY day-bucket over the materialized
    latest live state; like the sibling witnesses it fails on pre-r6
    machinery (un-retracted rename ghosts inflate their old bucket).
    """
    from ..streaming.aggregates import ChangelogAggregate

    env = _keyed_state_envelopes(spark, sf_dir)
    agg = ChangelogAggregate(
        "state",
        _keyed_state_schema(),
        key="user_id",
        group_cols=["bkt"],
        output_path=replay_state_dir("cagg_replay", sf_dir),
        sum_cols=["value"],
        n_buckets=8,
        derive=lambda df: df.withColumn(
            "bkt", F.expr(f"ets div {_CAGG_BUCKET_US}")
        ),
    )
    _replay_keyed_batches(agg.process_batch, env)
    view = agg.read_view(spark)
    return view.select(
        "bkt",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("bkt")


CHANGELOG_CAGG_REPLAY_SQL = (
    _KEYED_LIVE_CTE
    + f"""
SELECT ets // {_CAGG_BUCKET_US} AS bkt,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM live GROUP BY bkt ORDER BY bkt
"""
)


def changelog_cagg_ttl_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for event-time state TTL COMPOSED WITH the
    continuous-aggregate ``derive=`` path — the TimescaleDB retention
    policy (``drop_chunks`` / ``add_retention_policy``) expressed
    through the same machinery: the view groups by a derived day bucket
    while facts behind the watermark by more than ``_AGG_TTL_US``
    retract, so old buckets drain and disappear as retention advances
    (``ttl_col`` is read from the POST-derive rows — the same frame the
    bucket column is derived from).  RAISES unless expiry fired
    mid-replay and again in the final pass.  Oracle = day-bucket GROUP
    BY over the latest live state inside the retention window — every
    surviving bucket sits within TTL of the final watermark."""
    from ..streaming.aggregates import ChangelogAggregate

    env = _keyed_state_envelopes(spark, sf_dir)
    agg = ChangelogAggregate(
        "state",
        _keyed_state_schema(),
        key="user_id",
        group_cols=["bkt"],
        output_path=replay_state_dir("cagg_ttl_replay", sf_dir),
        sum_cols=["value"],
        n_buckets=8,
        derive=lambda df: df.withColumn(
            "bkt", F.expr(f"ets div {_CAGG_BUCKET_US}")
        ),
        ttl=_AGG_TTL_US,
        ttl_col="ets",
    )
    # fresh-dir gate: see changelog_agg_ttl_replay_query
    fresh = agg._ttl_proto.load_wm() is None
    _replay_keyed_batches(agg.process_batch, env)
    if fresh and agg.expired_applied == 0:
        raise AssertionError(
            "cagg TTL witness never expired a fact mid-replay — the "
            "per-epoch expiry path was not exercised"
        )
    mid = agg.expired_applied
    agg.expire(
        spark, epoch_id=_fresh_expire_epoch(3, agg.fact_state, agg.output)
    )
    if fresh and agg.expired_applied <= mid:
        raise AssertionError(
            "final expire() pass retracted nothing — fixture/TTL sizing "
            "no longer exercises the tail flush"
        )
    view = agg.read_view(spark)
    return view.select(
        "bkt",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("bkt")


CHANGELOG_CAGG_TTL_REPLAY_SQL = (
    _KEYED_LIVE_CTE
    + f"""
SELECT ets // {_CAGG_BUCKET_US} AS bkt,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM live
WHERE ets > (SELECT MAX(ets) FROM log) - {_AGG_TTL_US}
GROUP BY bkt ORDER BY bkt
"""
)


def cep_stream_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay witness for the STREAMING CEP operator
    (``streaming/cep.py`` ``streaming_adjacent_pattern`` —
    ``applyInPandasWithState``-backed MATCH_RECOGNIZE ``PATTERN (A B C)``,
    Flink's strictly-consecutive event pattern over an unbounded keyed
    stream).  This extends the driver record to the state-STORE machinery
    class: the foreachBatch IVM witnesses never touch Spark's keyed state
    store, ``applyInPandasWithState`` state schemas, or checkpoint
    recovery.

    Deterministic replay: the events table (rowtimes in MICROSECONDS —
    globally unique, asserted), split into two day-contiguous waves
    (r12 — formerly three: one restart already proves checkpoint
    recovery; measured wall-clock-NEUTRAL side-by-side vs the r11 tree
    — this witness is data-bound, each run's stateful shuffle scales
    with its wave — so the change is kept for the STRONGER gate: the
    recovery property is now ASSERTED rather than assumed); each wave
    is appended to a file-source directory and
    drained by a FRESH ``availableNow`` run over the SAME checkpoint —
    so the second run exercises state persistence and recovery across a
    query RESTART, and matches straddling the wave boundary can only be
    found through the recovered per-key tail state (the witness RAISES
    unless at least one emitted match straddles it — 2 exist at sf0.01,
    19 at sf0.1).  A per-call temp workspace keeps repeated harness
    invocations independent (unlike the IVM witnesses, a file source is
    not idempotent under re-appended source files).

    Oracle: strictly-consecutive (view, click, purchase) triples per
    user over the per-key rowtime order; ``n_late`` must be 0 on every
    row (day-contiguous waves + unique rowtimes satisfy the ordering
    contract, so ANY late-drop accounting would surface as a value
    mismatch).
    """
    import atexit
    import os
    import shutil
    import tempfile

    from ..functions.datetime import epoch_micros
    from ..streaming.cep import streaming_adjacent_pattern
    from ..streaming.statetable import session_confs

    work = tempfile.mkdtemp(prefix="cep_replay_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    out = os.path.join(work, "out")

    base = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        epoch_micros("ts").alias("ts_us"),
        F.col("event_type").alias("e"),
        F.col("event_id").alias("tie"),
        F.dayofmonth("ts").alias("day"),
    )
    _assert_unique_ts(base)

    # the state-store partition count is BAKED into the checkpoint at the
    # first run, so the conf scope must span every wave (it does).
    # Unlike the kilobyte-microbatch IVM witnesses, THIS witness is
    # data-bound: each wave pushes ~half the events table through the
    # stateful Python stage, so its partition count sets the stateful
    # parallelism.  Follow the session's core count (r13; interleaved
    # A/B at 32 cores: n=2 6.1s, n=8 4.1s, n=32 4.5s min-of-3) instead
    # of the 2-partition microbatch tuning — scale-adaptive, so the
    # driver's lower-core bench sees a matching layout.
    boundary = None
    cep_parts = max(2, min(32, spark.sparkContext.defaultParallelism))
    with session_confs(spark, {"spark.sql.shuffle.partitions": str(cep_parts)}):
        for lo, hi in ((1, 15), (16, 31)):
            wave = base.filter(F.col("day").between(lo, hi)).drop("day")
            if lo == 16:
                boundary = wave.agg(F.min("ts_us")).first()[0]
            wave.coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "u long, ts_us long, e string, tie long"
            ).parquet(src)
            matches = streaming_adjacent_pattern(
                stream,
                key="u",
                ts_ms_col="ts_us",
                type_col="e",
                pattern=("view", "click", "purchase"),
                tie_col="tie",
            )
            q = (
                matches.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            # FAIL LOUDLY on a drain overrun (ADVICE r7): ignoring the
            # timeout would append the next wave and start a second query
            # against the same checkpoint while this one still runs —
            # a nondeterministic witness instead of an error
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError(
                    "cep_stream_replay: availableNow drain exceeded 600 s"
                )
    result = (
        spark.read.parquet(out)
        .select("u", "start_ms", "end_ms", "end_tie", "n_late")
        .orderBy("u", "start_ms")
    )
    # recovery gate: at least one match must START before the wave
    # boundary and END at/after it — such a triple's (view, click) tail
    # was keyed state persisted by run 1 and RECOVERED by run 2; without
    # it the restart would be untested and this diet dishonest
    straddle = result.filter(
        (F.col("start_ms") < boundary) & (F.col("end_ms") >= boundary)
    ).count()
    if straddle == 0:
        raise AssertionError(
            "cep_stream_replay: no match straddles the wave boundary — "
            "the checkpoint-recovery gate did not fire"
        )
    return result


#: start_ms/end_ms carry MICROSECOND rowtimes (the column names come from
#: the operator's fixed output schema).  n_late is pinned to 0: the
#: fixture honors the per-key ordering contract, so any drop accounting
#: in the engine would mismatch.
CEP_STREAM_REPLAY_SQL = """
WITH ev AS (
  SELECT user_id AS u, epoch_us(ts) AS ts_us, event_type AS e,
         event_id AS tie
  FROM events
),
s AS (
  SELECT u, ts_us, e, tie,
         LEAD(e, 1) OVER w AS e1, LEAD(e, 2) OVER w AS e2,
         LEAD(ts_us, 2) OVER w AS end_ms, LEAD(tie, 2) OVER w AS end_tie
  FROM ev WINDOW w AS (PARTITION BY u ORDER BY ts_us)
)
SELECT u, ts_us AS start_ms, end_ms, end_tie, CAST(0 AS BIGINT) AS n_late
FROM s WHERE e = 'view' AND e1 = 'click' AND e2 = 'purchase'
ORDER BY u, start_ms
"""


def ingest_dedup_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay witness for the STREAMING ingestion dedup
    (``streaming/ingest_dedup.py`` ``IngestDedup`` — MinHash-LSH each
    arriving microbatch against the ACCUMULATED corpus index, the
    training-pipeline pattern where new data dedups against everything
    already ingested).  The last IVM-style foreachBatch consumer off the
    driver record (VERDICT r7 next-round #3).

    Deterministic replay: the documents table in three batches
    (``doc_id % 3``) through the REAL ``process_batch`` loop, then a
    deliberate RE-DELIVERY of epoch 1 — the at-least-once case the
    index's epoch-filtered read + dedup-on-read exist for (a retried
    epoch re-derives the SAME oriented pairs against the index its
    first delivery saw; pre-r8, the retry joined its own re-appended
    index rows and emitted intra-batch pairs in BOTH orientations).

    Oracle: the SAME fully-deterministic MinHash pipeline as the
    driver-proven batch oracle (md5-60 shingles, the module's 32
    universal-hash permutations, fixed 8×4 banding, exact-Jaccard
    verification at 1/5) — global over the corpus, because a pair's
    band collision is discovered either intra-batch or when its later
    doc arrives and probes the index; orientation by arrival:
    d1 = the LATER doc (same batch: smaller id first, matching the
    ``a.doc_id < b.doc_id`` intra join).

    Bench diet (VERDICT r11 #4 — the same levers that cut the
    keyed/join witnesses 0.60×, profiled fixed-overhead-bound here
    too): TWO arrival batches instead of three (every gate still
    fires: the new-vs-index probe, the mid-replay fold at
    ``compact_threshold=1`` — bucket version lists reach 2 at epoch 1,
    BEFORE the re-delivery — and the at-least-once re-delivery of a
    committed epoch), and ``n_buckets=4`` — pure
    witness-scale placement (semantics are bucket-count-independent;
    production sizing is the ``migrate_ingest_index`` rule), cutting
    per-append bucket-file IO 4×.  The oracle's orientation modulus
    follows (``n_batches=2``)."""
    from ..streaming.ingest_dedup import IngestDedup, read_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    index_path = replay_state_dir("ingest_dedup", sf_dir)
    # compact_threshold=1 forces the index stores' auto-compaction to
    # fire MID-replay (bucket version lists exceed 1 by epoch 1, before
    # the re-delivery), so the driver record proves the fold preserves
    # the __epoch stamps the retry discipline reads — same witness
    # discipline as the temporal join's history compaction
    dd = IngestDedup(index_path, compact_threshold=1, n_buckets=4)
    for epoch in range(2):
        dd.process_batch(
            docs.filter(F.col("doc_id") % 2 == epoch), epoch_id=epoch
        )
    if not dd.bands.compactions_committed():
        raise AssertionError(
            "index auto-compaction did not fire mid-replay"
        )
    # at-least-once: re-deliver a committed epoch; the pair set must
    # not change (a retried append overwrites its own version — or
    # no-ops if the fold subsumed it — also what makes harness
    # re-runs over the shared state dir safe)
    dd.process_batch(docs.filter(F.col("doc_id") % 2 == 1), epoch_id=1)
    pairs = read_dedup_pairs(spark, index_path)
    return pairs.select("d1", "d2", "jaccard").orderBy("d1", "d2")


def _ingest_minhash_oriented_sql(
    window: int | None = None,
    slice_mod: int | None = None,
    n_batches: int = 3,
) -> str:
    """DuckDB twin of the streaming ingest dedup: the batch MinHash
    oracle's candidate + verification stages (same constants — identical
    signatures across engines), oriented by arrival batch
    (``doc_id % n_batches``): d1 = later batch's doc, intra-batch
    smaller id first.  With ``window``, only pairs whose arrival batches
    are within ``window`` epochs of each other survive — the
    dedup-window (``retention_epochs``) semantics.  With ``slice_mod``,
    the corpus is restricted to ``doc_id % slice_mod = 0`` — the
    bench-diet slice the window witness replays (VERDICT r9 #5).
    ``n_batches`` is the replay's arrival-batch modulus (r12 diet: the
    corpus-wide witnesses replay two batches)."""
    from .dedup import (
        BANDS,
        MINHASH_A,
        MINHASH_B,
        MINHASH_C,
        MINHASH_P,
        NUM_HASHES,
        ROWS_PER_BAND,
        _LOW30,
    )
    from ..functions.text import ngrams_sql

    sig_cols = ",\n    ".join(
        f"min(({MINHASH_A[i]}*(sh>>30) + {MINHASH_B[i]}*(sh & {_LOW30}) + "
        f"{MINHASH_C[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(NUM_HASHES)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS k, {pack} AS bh FROM sig".format(
            b=b,
            pack=" + ".join(
                f"(h{b * ROWS_PER_BAND + r} % 32768) * "
                f"{1 << (15 * (ROWS_PER_BAND - 1 - r))}"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )
    win = (
        ""
        if window is None
        else (
            f"WHERE GREATEST(x % {n_batches}, y % {n_batches}) - "
            f"LEAST(x % {n_batches}, y % {n_batches}) <= {window}"
        )
    )
    src = (
        "documents"
        if slice_mod is None
        else f"(SELECT * FROM documents WHERE doc_id % {slice_mod} = 0)"
    )
    return f"""
WITH tri AS (
  SELECT doc_id, unnest({ngrams_sql("text", 3)}) AS g FROM {src}
),
hs AS (SELECT doc_id, ('0x' || substring(md5(g), 1, 15))::BIGINT AS sh FROM tri),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM hs GROUP BY doc_id
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM tri GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*) AS common
  FROM cand c JOIN tri a ON a.doc_id = c.x
              JOIN tri b ON b.doc_id = c.y AND b.g = a.g
  GROUP BY c.x, c.y
),
ver AS (
  SELECT x, y,
         CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) AS jaccard
  FROM common JOIN sizes s1 ON x = s1.doc_id JOIN sizes s2 ON y = s2.doc_id
  WHERE 5 * common >= 1 * (s1.n_sh + s2.n_sh - common)
)
SELECT CASE WHEN x % {n_batches} >= y % {n_batches} THEN x ELSE y END AS d1,
       CASE WHEN x % {n_batches} >= y % {n_batches} THEN y ELSE x END AS d2,
       jaccard
FROM ver {win} ORDER BY d1, d2
"""


def ingest_dedup_window_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for the DEDUP WINDOW (``IngestDedup
    (retention_epochs=1)`` — the streaming "dedup within the last N"
    pattern; Flink users express it as state TTL on the dedup
    operator): a three-batch replay (``ingest_dedup_replay``'s shape
    before its r12 two-batch diet — THIS witness keeps all three, see
    below), where each batch dedups only against the immediately
    preceding epoch
    (and itself).  The probe's window filter makes the semantics exact
    immediately; compactions (forced mid-replay, threshold 2) then
    PHYSICALLY drop index rows aged out of the latest window —
    asserted below: the bands store retains no epoch-0 rows after the
    epoch-2 fold, while the pairs OUTPUT record keeps its epoch-0
    discoveries.  A re-delivery of the LATEST epoch (the only epoch a
    Structured Streaming retry can replay — commits are sequential,
    and the drop cutoff preserves exactly its window) re-derives the
    identical pair set.  Oracle: the batch MinHash pipeline restricted
    to pairs whose arrival batches are ≤ 1 epoch apart.

    Per-call FRESH workspace (the ``cep_stream_replay`` precedent):
    unlike the corpus-wide witnesses, a full from-epoch-0 re-run over a
    persisted windowed index is not a streaming scenario the machinery
    supports — the retention fold has correctly GC'd the old epochs'
    index rows (only the LATEST epoch can retry, and the drop cutoff
    preserves exactly its window), so replaying epoch 1 against the
    GC'd window would legitimately derive different pairs."""
    import shutil as _shutil
    import tempfile as _tempfile

    from ..streaming.ingest_dedup import IngestDedup, read_dedup_pairs

    # bench diet (VERDICT r9 #5): the witness rebuilds a fresh windowed
    # index per call BY DESIGN (above), so it replays a HALF slice of the
    # corpus — the window/fold/redelivery contract is slice-independent,
    # and the oracle (slice_mod=2) restricts identically, so values still
    # check end to end.  r12 (VERDICT r11 #4): n_buckets=4
    # witness-scale placement; the THREE epochs
    # stay — the retention window needs an epoch that ages OUT (0 vs 2)
    # and one that stays IN, which two batches cannot express
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    index_path = _tempfile.mkdtemp(prefix="ingest_window_")
    try:
        dd = IngestDedup(
            index_path, compact_threshold=2, retention_epochs=1, n_buckets=4
        )
        for epoch in range(3):
            dd.process_batch(
                docs.filter(F.col("doc_id") % 3 == epoch), epoch_id=epoch
            )
        if not dd.bands.compactions_committed():
            raise AssertionError(
                "index auto-compaction did not fire mid-replay"
            )
        oldest = dd.bands.read(spark).agg(
            F.min("__epoch").alias("mn")
        ).first()["mn"]
        # oldest is None ⇔ the bands store is EMPTY — also a fixture
        # regression (ADVICE r9: without the guard it was a
        # TypeError, not the intended AssertionError)
        if oldest is None or oldest < 1:
            raise AssertionError(
                f"expired index rows survived the fold or the store "
                f"is empty (min __epoch {oldest}) — the retention "
                "transform did not run as intended"
            )
        dd.process_batch(
            docs.filter(F.col("doc_id") % 3 == 2), epoch_id=2
        )
        pairs = read_dedup_pairs(spark, index_path)
        # materialize before the workspace is deleted (try/finally
        # rmtree replaces the r9 atexit registration, which leaked one
        # mkdtemp workspace per call until process exit — ADVICE r9)
        out = pairs.select("d1", "d2", "jaccard").orderBy("d1", "d2")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        _shutil.rmtree(index_path, ignore_errors=True)


def ingest_index_migrate_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for the ingest-index MIGRATION path
    (``streaming/ingest_dedup.py`` ``migrate_ingest_index`` — VERDICT r8
    #5: a deployed index is a corpus-sized asset; re-ingesting was the
    only migration before).  Epoch 0 is written in the PRE-R8 RAW LAYOUT
    (plain ``mode("append")`` parquet with at-least-once duplicate
    appends and a legacy ``epoch`` column on pairs — exactly what the
    r7-era loop produced), migrated in place, then the CURRENT loop
    resumes with epoch 1 and a deliberate re-delivery of it.

    What the oracle match proves: the migration's read-side dedup folds
    the duplicate raw appends exactly once; migrated rows keep probing
    (epoch-1 docs pair with epoch-0 docs THROUGH the migrated,
    (band_idx, bh)-bucketed bands store); and the re-delivered epoch's
    ``__epoch < 1`` replay filter sees precisely the migrated epoch-0
    stamps — so the retry re-derives the SAME oriented pairs.

    Oracle: identical to ``ingest_dedup_replay`` — the global batch
    MinHash pipeline oriented by arrival batch (``doc_id % 2``); any
    migration-induced duplication, loss, or mis-stamping shifts the
    pair set and fails on values.

    Bench diet (VERDICT r11 #4): two arrival batches (the second epoch
    added nothing the migration contract needs — every gate above
    binds at epoch 1 already), and
    ``n_buckets=4`` witness-scale placement end to end (the raw layout
    has no buckets; the MIGRATION itself re-buckets into 4 — also the
    first driver proof of its ``n_buckets`` parameter, the documented
    corpus-growth re-bucketing knob)."""
    from ..functions.text import hashed_word_ngrams
    from ..streaming.ingest_dedup import (
        IngestDedup,
        _batch_bands,
        _verify_pairs,
        migrate_ingest_index,
        read_dedup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    index_path = replay_state_dir("ingest_migrate", sf_dir)
    if not os.path.isdir(os.path.join(index_path, "bands")):
        # epoch 0, as the pre-r8 loop wrote it (raw appends; intra
        # candidates only — the index was empty at epoch 0)
        doc_sets = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            hashed_word_ngrams(F.col("text"), 3).alias("shset"),
        )
        bands0 = _batch_bands(doc_sets)
        a, b = bands0.alias("a"), bands0.alias("b")
        intra = a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        pairs0 = _verify_pairs(intra.distinct(), doc_sets, 1, 5)
        for _ in range(2):  # at-least-once: everything appended TWICE
            pairs0.withColumn("epoch", F.lit(0)).write.mode(
                "append"
            ).parquet(os.path.join(index_path, "pairs"))
            bands0.write.mode("append").parquet(
                os.path.join(index_path, "bands")
            )
            doc_sets.write.mode("append").parquet(
                os.path.join(index_path, "shsets")
            )
    # one-shot, idempotent (no-ops on a reused state dir — already
    # the current layout, the migration's own contract)
    migrate_ingest_index(spark, index_path, n_buckets=4)
    dd = IngestDedup(index_path, n_buckets=4)
    dd.process_batch(docs.filter(F.col("doc_id") % 2 == 1), epoch_id=1)
    # re-delivery OVER THE MIGRATED INDEX: the retry's epoch filter
    # must see exactly the migrated epoch-0 stamps plus nothing newer
    dd.process_batch(docs.filter(F.col("doc_id") % 2 == 1), epoch_id=1)
    pairs = read_dedup_pairs(spark, index_path)
    return pairs.select("d1", "d2", "jaccard").orderBy("d1", "d2")


def sink_exactly_once_replay_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay witness for the exactly-once epoch-ledgered APPEND sink
    (``streaming/sink.py`` ``ExactlyOnceAppendSink``) — the reference's
    exactly-once-across-failures contract (reference ``README.md:15-21``)
    for append-only outputs, where Flink uses two-phase-commit sinks.

    The replay exercises every failure mode the ledger exists for:

    - a simulated CRASH: epoch 1's first attempt writes a PARTIAL data
      directory and dies before the ledger commit — the retry's
      overwrite clobbers its own partial output;
    - a DUPLICATE DELIVERY of committed epoch 1 — the ledger makes it a
      no-op (pre-ledger machinery would double every row of the epoch);
    - a LEDGER COMPACTION (r8) folding epochs 0–1 into one consolidated
      tier + one ``[lo, hi]`` ledger range, followed by a duplicate
      delivery of the now-FOLDED epoch 1 — range membership must make
      it a no-op (re-writing it would duplicate the consolidated rows);
    - a SECOND compaction (r9): the new tier's ledger entry must MERGE
      into the existing one (second-level fold — one ``[lo, hi]`` entry
      carrying both tier dirs, zero data IO), then
      ``reconsolidate_tiers`` re-merges the tier directories themselves
      and a duplicate delivery of an epoch inside the reconsolidated
      range must still no-op;
    - an ORPHAN epoch directory (written, never committed) — invisible
      to readers and removed by ``gc_uncommitted`` (asserted).

    Oracle: a plain dedup-free aggregation of the whole log — any
    duplication or loss shifts the counts/sums and fails on values."""
    from ..streaming.sink import ExactlyOnceAppendSink

    sink = ExactlyOnceAppendSink(replay_state_dir("eos_sink", sf_dir))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", F.dayofmonth("ts").alias("day")
    )
    batches = [
        ev.filter(F.col("day").between(lo, hi)).drop("day")
        for lo, hi in ((1, 8), (9, 16), (17, 24), (25, 31))
    ]
    if 1 not in sink.committed_epochs():
        # crash-before-commit: partial first attempt of epoch 1
        # (skipped on a reused state dir, where epoch 1 is committed
        # and authoritative — exactly the ledger's own contract)
        batches[1].limit(7).write.mode("overwrite").parquet(
            sink._epoch_dir(1)
        )
    sink.process_batch(batches[0], 0)
    sink.process_batch(batches[1], 1)  # retry clobbers the partial
    sink.process_batch(batches[1], 1)  # duplicate delivery: no-op
    # fold epochs 0-1 into one consolidated tier (no-op on a reused
    # state dir, where they are already folded — < 2 loose to fold)
    sink.compact_epochs(spark, keep_recent=0)
    sink.process_batch(batches[1], 1)  # duplicate of a FOLDED epoch
    sink.process_batch(batches[2], 2)
    sink.process_batch(batches[3], 3)
    # second compaction: its ledger entry merges into the first
    # (r9 second-level fold; on a fresh dir the ledger must now hold
    # ONE [0,3] entry and TWO tier dirs)
    sink.compact_epochs(spark, keep_recent=0)
    led = sink._load_ledger()
    if len(led["merged"]) > 1:
        raise AssertionError(
            "sink_exactly_once_replay: tier ledger entries not folded"
        )
    # re-merge the tier dirs themselves; replay inside the
    # reconsolidated range must still no-op (no-op call on a reused
    # state dir, where a single tier is already in place)
    sink.reconsolidate_tiers(spark)
    sink.process_batch(batches[2], 2)
    # orphan: written but never ledgered (crash before commit point)
    batches[0].write.mode("overwrite").parquet(sink._epoch_dir(99))
    removed = sink.gc_uncommitted()
    if 99 not in removed:
        raise AssertionError(
            "sink_exactly_once_replay: orphan epoch dir not GC'd"
        )
    out = sink.read_committed(spark)
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


#: duplication doubles a type's cnt; loss (orphan leak would ADD rows,
#: a mis-GC would DROP epochs) shifts both columns — plain GROUP BY over
#: the full log is the exactly-once semantics stated declaratively.
SINK_EXACTLY_ONCE_REPLAY_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


REPLAY_QUERIES = {
    "changelog_join_replay": (
        changelog_join_replay_query,
        CHANGELOG_JOIN_REPLAY_SQL,
    ),
    "changelog_agg_replay": (
        changelog_agg_replay_query,
        CHANGELOG_AGG_REPLAY_SQL,
    ),
    "changelog_agg_ttl_replay": (
        changelog_agg_ttl_replay_query,
        CHANGELOG_AGG_TTL_REPLAY_SQL,
    ),
    # same fixture and retention-window oracle as the TTL witness — the
    # convergence driver differs (idle ticker, not a manual expire())
    "changelog_agg_idle_expiry_replay": (
        changelog_agg_idle_expiry_replay_query,
        CHANGELOG_AGG_TTL_REPLAY_SQL,
    ),
    "changelog_join_ttl_replay": (
        changelog_join_ttl_replay_query,
        CHANGELOG_JOIN_TTL_REPLAY_SQL,
    ),
    "changelog_topn_ttl_replay": (
        changelog_topn_ttl_replay_query,
        CHANGELOG_TOPN_TTL_REPLAY_SQL,
    ),
    "changelog_cagg_ttl_replay": (
        changelog_cagg_ttl_replay_query,
        CHANGELOG_CAGG_TTL_REPLAY_SQL,
    ),
    "changelog_topn_replay": (
        changelog_topn_replay_query,
        CHANGELOG_TOPN_REPLAY_SQL,
    ),
    "changelog_cagg_replay": (
        changelog_cagg_replay_query,
        CHANGELOG_CAGG_REPLAY_SQL,
    ),
    "cep_stream_replay": (
        cep_stream_replay_query,
        CEP_STREAM_REPLAY_SQL,
    ),
    "ingest_dedup_replay": (
        ingest_dedup_replay_query,
        _ingest_minhash_oriented_sql(n_batches=2),
    ),
    "ingest_index_migrate_replay": (
        ingest_index_migrate_replay_query,
        _ingest_minhash_oriented_sql(n_batches=2),
    ),
    "ingest_dedup_window_replay": (
        ingest_dedup_window_replay_query,
        _ingest_minhash_oriented_sql(window=1, slice_mod=2),
    ),
    "sink_exactly_once_replay": (
        sink_exactly_once_replay_query,
        SINK_EXACTLY_ONCE_REPLAY_SQL,
    ),
}

"""Incrementally-maintained AGGREGATE views over CDC streams.

The second flagship continuous query reference users run in Flink SQL:
``SELECT cust_id, count(*), sum(amount) FROM orders GROUP BY cust_id``
over a CDC feed, kept correct under updates and deletes (Flink does this
with retract aggregates).  Structured Streaming aggregation is
append-only, so this module maintains the view with per-batch
TOUCHED-GROUP RECOMPUTATION:

- a batch's touched groups = every group value any image mentions (an
  update's before-image row covers the group the fact LEFT, so group
  re-pointing retracts correctly);
- the fact state is bucketed BY GROUP (``bucket_cols`` — merge keys stay
  the fact key), so the touched-group recompute reads ONLY the buckets
  the touched groups hash to (``read_buckets``), never the whole state
  (r8; the r7 shape scanned every bucket because state was bucketed by
  fact key — but group-bucketing is sound: a group-re-pointing update's
  retraction image carries the OLD group, so the old bucket is touched
  and the key is merged out of it, the same well-formed-CDC contract the
  replay witnesses pin, and the layout Flink's retract aggregates use —
  state keyed by group key).  Per-epoch cost is O(batch + facts of
  touched groups) — the floor for exact recompute — not O(total state);
  a single hot group costs its own size, exactly what retracting its
  MIN/MAX requires anyway.  One code path, exact for ALL aggregates
  including non-invertible MIN/MAX (retracting the current minimum needs
  the runner-up, which only state can supply) and naturally IDEMPOTENT
  on replayed epochs — a delta accumulate/retract merge would be neither
  without extra machinery.

Groups whose count reaches zero leave the view (tombstones), matching
SQL GROUP BY over the current table state.  Output lands in a
:class:`PartitionedStateTable` keyed by the group columns — atomic
manifest swap per batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.debezium import (
    CHANGELOG_ORDER_BY,
    offset_sort_columns,
    parse_change_rows,
)
from .statetable import PartitionedStateTable, null_safe_on
from .ttl import (
    EventTimeTTL,
    check_expire_epoch,
    fused_epoch,
    heal_pending_expiry,
)


class ChangelogAggregate:
    """Maintains ``SELECT group_cols, count(*), sum(sum_cols...),
    min/max(minmax_cols...) FROM table GROUP BY group_cols`` over a raw
    CDC stream."""

    def __init__(
        self,
        table: str,
        physical: T.StructType,
        key: str,
        group_cols: Sequence[str],
        output_path: str,
        sum_cols: Sequence[str] = (),
        minmax_cols: Sequence[str] = (),
        distinct_cols: Sequence[str] = (),
        n_buckets: int = 64,
        derive=None,
        ttl: int | None = None,
        ttl_col: str | None = None,
    ) -> None:
        self.table = table
        self.physical = physical
        self.key = key
        self.group_cols = list(group_cols)
        #: optional DataFrame→DataFrame projection applied to parsed
        #: change rows BEFORE state/grouping — lets ``group_cols`` name
        #: DERIVED columns (e.g. ``time_bucket(3600, "ts")``), which turns
        #: this view into a TimescaleDB-style CONTINUOUS AGGREGATE
        #: maintained by the CDC stream: an update that moves a row
        #: across buckets touches both buckets (the before-image carries
        #: the old derived value), so both recompute exactly.
        self.derive = derive
        self.sum_cols = list(sum_cols)
        self.minmax_cols = list(minmax_cols)
        #: event-time state TTL (the deterministic twin of Flink's
        #: ``table.exec.state.ttl``, which expires idle keyed state after
        #: a PROCESSING-time idle period — non-deterministic across
        #: replays, so Flink documents the resulting views as
        #: approximate).  Here a fact EXPIRES — is retracted from the
        #: view and deleted from fact state — once the stream's event-time
        #: watermark (max ``ttl_col`` seen across committed epochs,
        #: persisted monotonically) passes ``fact.ttl_col + ttl``.  Event
        #: time makes expiry a pure function of the epoch sequence:
        #: replays converge, and the final view after an :meth:`expire`
        #: pass equals GROUP BY over exactly the facts whose latest
        #: version's ``ttl_col`` lies inside the retention window — a
        #: DuckDB-checkable oracle.  ``ttl`` is in ``ttl_col``'s own units
        #: (the column must be numeric event time, post-``derive``).
        if (ttl is None) != (ttl_col is None):
            raise ValueError("ttl and ttl_col must be set together")
        self.ttl = ttl
        self.ttl_col = ttl_col
        #: retraction images applied by expiry so far (this instance) —
        #: read by witnesses to assert expiry actually fired mid-replay;
        #: costs nothing (counted inside the fused per-batch stats agg)
        self.expired_applied = 0
        # COUNT(DISTINCT col) per group: exact under retraction for free —
        # touched groups recompute against full fact state, so the
        # "retract one occurrence of a still-present value" case that
        # forces Flink's retract aggregates into per-value counted state
        # needs no special handling here
        self.distinct_cols = list(distinct_cols)
        # fact state merges by fact key but is BUCKETED by group, so the
        # touched-group recompute prunes its read to the groups' buckets
        # (module docstring — requires the retraction-image contract)
        self.fact_state = PartitionedStateTable(
            f"{output_path}/__fact_state",
            [key],
            n_buckets=n_buckets,
            bucket_cols=self.group_cols,
        )
        self.output = PartitionedStateTable(
            f"{output_path}/view", self.group_cols, n_buckets=n_buckets
        )
        self._ttl_proto = (
            EventTimeTTL(
                self.fact_state, self.output.path, ttl, ttl_col, name="ttl"
            )
            if ttl is not None
            else None
        )

    # -- aggregate expressions --------------------------------------------
    def _prepared(self, tag: str, build):
        """Memoize a Column tree under this view's semantic parameters
        (``functions/prepared.py``) — instances are recreated per query
        invocation, so the trees were rebuilt every epoch AND every
        bench re-run before r13."""
        from ..functions.prepared import prepared

        return prepared(
            (
                "cagg",
                tag,
                self.table,
                self.physical.json(),
                self.key,
                tuple(self.group_cols),
                tuple(self.sum_cols),
                tuple(self.minmax_cols),
                tuple(self.distinct_cols),
                self.fact_state.n_buckets,
                self.ttl_col or "",
            ),
            build,
        )

    def _agg_exprs(self):
        def build():
            exprs = [F.count(F.lit(1)).cast("long").alias("cnt")]
            for c in self.sum_cols:
                exprs.append(F.sum(c).alias(f"sum_{c}"))
            for c in self.minmax_cols:
                exprs.append(F.min(c).alias(f"min_{c}"))
                exprs.append(F.max(c).alias(f"max_{c}"))
            for c in self.distinct_cols:
                exprs.append(
                    F.countDistinct(c).cast("long").alias(f"dcnt_{c}")
                )
            return exprs

        return self._prepared("agg_exprs", build)

    def _out_cols(self) -> list[str]:
        out = ["cnt"]
        out += [f"sum_{c}" for c in self.sum_cols]
        for c in self.minmax_cols:
            out += [f"min_{c}", f"max_{c}"]
        out += [f"dcnt_{c}" for c in self.distinct_cols]
        return out

    # -- the per-batch merge ----------------------------------------------
    def process_batch(self, raw_batch: DataFrame, epoch_id: int) -> None:
        spark = raw_batch.sparkSession
        # self-heal a crashed expire() pass before anything else (r11 —
        # covers raw-foreachBatch deployments too, not just the
        # sequenced adapter); no-op on healthy batches
        heal_pending_expiry(self, spark, epoch_id)
        table_of = F.get_json_object(F.col("value"), "$.source.table")
        # parse + UPDATE_BEFORE retraction (+ offset sort keys when no
        # derive hook intervenes) fused into the parse's projections with
        # memoized trees (r13) — the chain was rebuilt per epoch.  With a
        # derive hook the offsets are appended AFTER it, preserving the
        # hook's original input columns exactly.
        if self.derive is not None:
            parsed = self.derive(
                parse_change_rows(
                    raw_batch.filter(table_of == self.table),
                    self.physical,
                    offsets=False,
                )
            )
            rows_lazy = offset_sort_columns(parsed)
        else:
            rows_lazy = parse_change_rows(
                raw_batch.filter(table_of == self.table), self.physical
            )
        # lazy persist (r7): the epoch's stats collect materializes it
        rows = rows_lazy.persist()
        try:
            fused_epoch(
                self, spark, epoch_id, rows, *self._epoch_stats(),
                self._merge_and_recompute,
            )
        finally:
            rows.unpersist(False)

    def _epoch_stats(self):
        """This view's part of the epoch's one stats collect: rows group
        by fact-state bucket, each collecting the output buckets its
        groups hash to (xxhash64 treats an all-NULL key as a real value,
        so the NULL group's bucket is collected, never dropped — pinned
        by the NULL-group replay witness)."""

        def build():
            gcols = [F.col(c) for c in self.group_cols]
            return (
                [self.fact_state.bucket_for(*gcols).alias("__b")],
                [F.collect_set(self.output.bucket_for(*gcols)).alias("ob")],
            )

        return self._prepared("epoch_stats", build)

    def _epoch_buckets(self, per: list) -> dict:
        """The buckets the stats collect names per table (``fused_epoch``)."""
        return {
            self.fact_state: {r["__b"] for r in per},
            self.output: {b for r in per for b in r["ob"]},
        }

    def _merge_and_recompute(
        self,
        spark: SparkSession,
        rows: DataFrame,
        epoch_id: int,
        per: list,
        touched: dict,
    ) -> None:
        """The epoch's commit step (``ttl.fused_epoch``): fact-state
        upsert + touched-group recompute + view upsert.  ``rows`` already
        contains any synthesized expiry retractions; ``per`` is the
        stats collect, one row per fact bucket."""
        fact_buckets = touched[self.fact_state]
        out_buckets = touched[self.output]
        # 1. keep the fact state current (feeds min/max recompute and
        #    replayed-epoch recovery)
        self.fact_state.upsert(
            rows,
            order_by=CHANGELOG_ORDER_BY,
            epoch_id=epoch_id,
            touched=fact_buckets,
            batch_rows=sum(r["cnt"] for r in per),
        )

        # 2. touched groups: every group any image of this batch mentions
        #    (update before-images live in img_seq=0 rows, so a group the
        #    row LEFT is touched too)
        touched = rows.select(*self.group_cols).distinct()

        # 3. exact recompute of touched groups against post-upsert state.
        #    Invertible aggregates COULD delta-merge without reading fact
        #    rows; recompute-touched keeps one code path that is also
        #    exact for min/max and idempotent on replay.  The read prunes
        #    to the touched groups' buckets (state is group-bucketed, and
        #    every touched group came from a batch row, so fact_buckets
        #    covers all of them); the semi-join then bounds the shuffle
        #    to exactly the touched groups' rows.
        state = self.fact_state.read_buckets(spark, fact_buckets)
        fresh = None
        if state is not None:
            # NULL-safe membership: GROUP BY keeps a NULL group; a plain
            # column-list semi-join would drop (and then tombstone) it
            member = state.join(
                F.broadcast(touched),
                null_safe_on(state, touched, self.group_cols),
                "leftsemi",
            )
            fresh = member.groupBy(*self.group_cols).agg(*self._agg_exprs())

        # 4. groups now empty → tombstones; everything else → upsert
        if fresh is not None:
            alive = fresh.withColumn("op", F.lit("c"))
            fresh_keys = fresh.select(*self.group_cols)
            gone = touched.join(
                fresh_keys,
                null_safe_on(touched, fresh_keys, self.group_cols),
                "left_anti",
            )
        else:
            alive = None
            gone = touched
        out_types = dict(
            (f.name, f.dataType)
            for f in (alive.schema.fields if alive is not None else [])
        )
        # one projection — was one withColumn (an eager re-analysis) per
        # output column per epoch (r13)
        tomb = gone.select(
            "*",
            *[
                F.lit(None).cast(out_types.get(c, T.LongType())).alias(c)
                for c in self._out_cols()
            ],
            F.lit("d").alias("op"),
        )
        merged = tomb if alive is None else alive.unionByName(tomb)
        # alive ∪ tomb groups ⊆ touched groups, so the precomputed group
        # buckets cover every output row (superset-safe)
        self.output.upsert(
            merged.withColumn("__seq", F.lit(0)),
            order_by=["__seq"],
            epoch_id=epoch_id,
            touched=out_buckets,
        )

    def expire(self, spark: SparkSession, epoch_id: int) -> None:
        """Expiry-only pass (no input batch) under a FRESH epoch id:
        retracts every fact the CURRENT stored watermark has aged out.
        Run one after the final batch to make the view exactly
        "GROUP BY over facts inside the retention window" — per-batch
        expiry necessarily lags one epoch (an epoch's cutoff comes from
        the watermark its PREDECESSORS committed, keeping the batch's
        scalars in one fused driver action).  Drives the normal batch
        pipeline with an empty envelope frame.  A recycled epoch id is
        REFUSED (``check_expire_epoch``): it would silently no-op the
        retractions while sealing the expiry bounds."""
        if self.ttl is None:
            raise ValueError("expire() requires ttl")
        check_expire_epoch(
            epoch_id, self.fact_state, self.output, ttl=self._ttl_proto
        )
        self.process_batch(
            spark.createDataFrame([], "value string, file string, pos long"),
            epoch_id,
        )

    def read_view(self, spark: SparkSession) -> DataFrame | None:
        df = self.output.read(spark)
        if df is None:
            return None
        return df.select(*self.group_cols, *self._out_cols())


def materialize_aggregate(
    raw_stream: DataFrame,
    table: str,
    physical: T.StructType,
    key: str,
    group_cols: Sequence[str],
    output_path: str,
    checkpoint_path: str,
    sum_cols: Sequence[str] = (),
    minmax_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
    n_buckets: int = 64,
    derive=None,
    ttl: int | None = None,
    ttl_col: str | None = None,
):
    """Continuously-maintained GROUP BY view over a raw CDC stream.
    Returns the ``DataStreamWriter``; read back with
    ``ChangelogAggregate(...).read_view``."""
    agg = ChangelogAggregate(
        table, physical, key, group_cols, output_path,
        sum_cols=sum_cols, minmax_cols=minmax_cols,
        distinct_cols=distinct_cols, n_buckets=n_buckets, derive=derive,
        ttl=ttl, ttl_col=ttl_col,
    )
    return (
        raw_stream.writeStream.foreachBatch(agg.process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )

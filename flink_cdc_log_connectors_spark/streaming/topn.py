"""Incrementally-maintained TOP-N views over CDC streams.

The third flagship continuous query reference users run in Flink SQL —
the "Top-N" pattern (Flink docs call it exactly that):

    SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY p ORDER BY s DESC) AS rn
      FROM changelog_table) WHERE rn <= N

kept correct under inserts, updates (including partition re-pointing and
rank churn), and deletes.  Flink maintains this with a retracting rank
operator; Structured Streaming has no retracting windows, so — like the
JOIN (``streaming/joins.py``) and GROUP BY (``streaming/aggregates.py``)
views — the maintenance is per-batch TOUCHED-PARTITION RECOMPUTATION:

- touched partitions = every partition value any image of the batch
  mentions (an update's before-image covers the partition a row LEFT);
- each touched partition's top-N is recomputed exactly against the
  maintained fact state, which is BUCKETED BY PARTITION VALUE
  (``bucket_cols`` — merge keys stay the row key), so the recompute
  reads only the touched partitions' buckets (r8; the r7 shape scanned
  every bucket because state was key-bucketed — but partition-bucketing
  is sound: a re-pointing update's retraction image carries the OLD
  partition, so the old bucket is touched and the key merged out of it,
  the same well-formed-CDC contract the replay witnesses pin).  Nothing
  beyond the touched partitions' rows enters a shuffle, the rank
  recompute is bounded by those rows, and the whole merge is naturally
  idempotent on replayed epochs and exact under every change shape (a
  delta approach must handle the "evicted row re-enters when the top
  shrinks" case, which needs the runner-up rows — i.e. state — anyway).
  Global (un-partitioned) Top-N keeps key-bucketed state: its single
  partition's recompute necessarily reads everything;
- rank slots that emptied (partition shrank below N, or vanished) emit
  tombstones, so the view's (partition, rn) identity space is exact.

View identity is ``(*partition_cols, rn)`` in a
:class:`PartitionedStateTable` — atomic manifest swap per batch, reads
are O(buckets touched).

At 100 TB: per-batch READ, SHUFFLE, and rank work all scale with the
touched partitions — the read via partition-bucket pruning, the rest
via the semi-join.  A skewed hot partition bounds recompute at that
partition's size (its bucket co-locates it; that is also the minimum an
exact rank retraction must read); if single partitions outgrow executor
memory the row_number window spills — same failure envelope as running
the Flink query over the same state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..sources.debezium import CHANGELOG_ORDER_BY, parse_change_rows
from .statetable import PartitionedStateTable, null_safe_on
from .ttl import (
    EventTimeTTL,
    check_expire_epoch,
    fused_epoch,
    heal_pending_expiry,
)

#: injected partition column for global (un-partitioned) Top-N
_GLOBAL = "__all"


class ChangelogTopN:
    """Maintains the Flink-SQL Top-N view over a raw CDC stream.

    ``order_col`` ranks descending by default (ascending for
    "bottom-N"); ties break on the ascending row key so ranking is
    total and deterministic.
    """

    def __init__(
        self,
        table: str,
        physical: T.StructType,
        key: str,
        partition_cols: Sequence[str],
        order_col: str,
        n: int,
        output_path: str,
        descending: bool = True,
        n_buckets: int = 64,
        ttl: int | None = None,
        ttl_col: str | None = None,
    ) -> None:
        if (ttl is None) != (ttl_col is None):
            raise ValueError("ttl and ttl_col must be set together")
        self.table = table
        self.physical = physical
        self.key = key
        self.partition_cols = list(partition_cols) or [_GLOBAL]
        self._global = not partition_cols
        self.order_col = order_col
        self.n = n
        self.descending = descending
        # partitioned Top-N buckets fact state by partition value so the
        # rank recompute prunes its read to the touched partitions'
        # buckets; global Top-N has one partition spanning all state, so
        # it keeps key-bucketed layout (better balance, nothing to prune)
        self.fact_state = PartitionedStateTable(
            f"{output_path}/__fact_state",
            [key],
            n_buckets=n_buckets,
            bucket_cols=None if self._global else self.partition_cols,
        )
        self.output = PartitionedStateTable(
            f"{output_path}/view",
            [*self.partition_cols, "rn"],
            n_buckets=n_buckets,
        )
        #: event-time state TTL (the deterministic twin of Flink's
        #: ``table.exec.state.ttl``, which reference users set to bound a
        #: rank operator's otherwise-unbounded state): a fact expires —
        #: is retracted (its partition's ranks recompute and promote) and
        #: deleted from fact state — once the persisted watermark passes
        #: ``fact.ttl_col + ttl``; the view then ranks exactly the facts
        #: inside the retention window.  Protocol in ``streaming/ttl.py``.
        self.ttl = ttl
        self.ttl_col = ttl_col
        self._ttl_proto = (
            EventTimeTTL(
                self.fact_state, self.output.path, ttl, ttl_col, name="ttl"
            )
            if ttl is not None
            else None
        )
        #: expiry images applied so far — witnesses assert mid-replay
        #: expiry; counted inside the fused per-batch stats agg
        self.expired_applied = 0

    def _with_partition(self, df: DataFrame) -> DataFrame:
        if self._global:
            return df.withColumn(_GLOBAL, F.lit(0))
        return df

    def _rank_window(self):
        order = (
            F.col(self.order_col).desc()
            if self.descending
            else F.col(self.order_col).asc()
        )
        return Window.partitionBy(*self.partition_cols).orderBy(
            order, F.col(self.key).asc()
        )

    # -- the per-batch merge ----------------------------------------------
    def process_batch(self, raw_batch: DataFrame, epoch_id: int) -> None:
        spark = raw_batch.sparkSession
        # self-heal a crashed expire() pass before anything else (r11 —
        # see streaming/ttl.heal_pending_expiry); no-op when healthy
        heal_pending_expiry(self, spark, epoch_id)
        table_of = F.get_json_object(F.col("value"), "$.source.table")
        # parse + UPDATE_BEFORE retraction + offset sort keys fused into
        # the parse's own projections with memoized trees (r13)
        # lazy persist (r7): the epoch's stats collect materializes it
        rows = parse_change_rows(
            raw_batch.filter(table_of == self.table), self.physical
        ).persist()
        # the one stats collect groups by fact bucket and gathers the
        # output buckets of every (touched partition, rn 1..N) slot the
        # merge can write — one collect_set per rank slot (N is small by
        # construction of a Top-N query; xxhash64 hashes a NULL
        # partition value to a real bucket, so NULL partitions are
        # collected, never dropped)
        pcols = [F.col(c) for c in self.partition_cols]
        try:
            fused_epoch(
                self, spark, epoch_id, rows,
                [self._fact_bucket().alias("__b")],
                [
                    F.collect_set(
                        self.output.bucket_for(*pcols, F.lit(rn))
                    ).alias(f"ob{rn}")
                    for rn in range(1, self.n + 1)
                ],
                self._merge_and_recompute,
                frame=self._with_partition,
            )
        finally:
            rows.unpersist(False)

    def _fact_bucket(self) -> F.Column:
        pcols = [F.col(c) for c in self.partition_cols]
        return (
            self.fact_state.bucket_for(F.col(self.key))
            if self._global
            else self.fact_state.bucket_for(*pcols)
        )

    def _merge_and_recompute(
        self,
        spark: SparkSession,
        rows: DataFrame,
        epoch_id: int,
        per: list,
        committed,
    ) -> None:
        """The epoch's commit step (``ttl.fused_epoch``): fact-state
        upsert + touched-partition rank recompute + view upsert.
        ``rows`` already contains any synthesized expiry retractions;
        ``per`` is the stats collect, one row per fact bucket."""
        fact_buckets = sorted(
            {r["__b"] for r in per} | committed(self.fact_state)
        )
        out_buckets = sorted(
            {
                b
                for r in per
                for rn in range(1, self.n + 1)
                for b in r[f"ob{rn}"]
            }
            | committed(self.output)
        )
        # 1. fact state stays current
        self.fact_state.upsert(
            rows,
            order_by=CHANGELOG_ORDER_BY,
            epoch_id=epoch_id,
            touched=fact_buckets,
            batch_rows=sum(r["cnt"] for r in per),
        )

        # 2. touched partitions (before-images included — re-pointing)
        wrows = self._with_partition(rows)
        touched = wrows.select(*self.partition_cols).distinct()

        # 3. exact top-N recompute for touched partitions against
        #    post-upsert state — the read prunes to the touched
        #    partitions' buckets (every touched partition came from a
        #    batch row, so fact_buckets covers them all); global Top-N's
        #    single partition reads everything by definition
        state = (
            self.fact_state.read(spark)
            if self._global
            else self.fact_state.read_buckets(spark, fact_buckets)
        )
        fresh = None
        if state is not None:
            # NULL-safe membership: a NULL partition value is a real
            # Top-N partition (GROUP BY semantics) — see null_safe_on
            state_p = self._with_partition(state)
            member = state_p.join(
                F.broadcast(touched),
                null_safe_on(state_p, touched, self.partition_cols),
                "leftsemi",
            )
            fresh = (
                member.withColumn(
                    "rn", F.row_number().over(self._rank_window())
                )
                .filter(F.col("rn") <= self.n)
            )

        # 4. emptied rank slots → tombstones for exactly (m, N] per
        #    touched partition (m = its surviving row count, 0 if gone)
        if fresh is None:
            have = touched.withColumn("__m", F.lit(0))
        else:
            counts = fresh.groupBy(*self.partition_cols).agg(
                F.max("rn").alias("__m")
            )
            have = touched.join(
                counts,
                null_safe_on(touched, counts, self.partition_cols),
                "left",
            ).select(
                *[touched[c] for c in self.partition_cols],
                F.coalesce(counts["__m"], F.lit(0)).alias("__m"),
            )
        tomb = have.filter(F.col("__m") < self.n).select(
            *self.partition_cols,
            F.explode(
                F.sequence(F.col("__m") + F.lit(1), F.lit(self.n))
            ).alias("rn"),
        )
        # null-fill the payload BEFORE stamping op='d' — 'op' rides along
        # in fact-state rows, so it must not be in the null loop (it
        # would silently erase the delete marker)
        payload = [
            f.name
            for f in (fresh.schema.fields if fresh is not None else [])
            if f.name not in (*self.partition_cols, "rn", "op")
        ]
        for c in payload:
            tomb = tomb.withColumn(
                c, F.lit(None).cast(dict(fresh.dtypes)[c])
            )
        tomb = tomb.withColumn("op", F.lit("d"))
        alive = (
            None if fresh is None else fresh.withColumn("op", F.lit("c"))
        )
        merged = tomb if alive is None else alive.unionByName(
            tomb, allowMissingColumns=True
        )
        # every output row is (touched partition, rn ≤ N) — covered by
        # the precomputed slot buckets (superset-safe)
        self.output.upsert(
            merged.withColumn("__seq", F.lit(0)),
            order_by=["__seq"],
            epoch_id=epoch_id,
            touched=out_buckets,
        )

    def expire(self, spark: SparkSession, epoch_id: int) -> None:
        """Expiry-only pass (no input batch) under a FRESH epoch id —
        retracts every fact the CURRENT stored watermark has aged out
        (per-batch expiry lags one epoch: cutoffs come from the
        watermark the epoch's predecessors committed).  Drives the
        normal batch pipeline with an empty envelope frame.  A recycled
        epoch id is REFUSED (``check_expire_epoch``): it would silently
        no-op the retractions while sealing the expiry bounds."""
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
        """Current Top-N contents: the DECLARED physical columns + rank —
        internal CDC metadata (offset sort columns, op, _src, state
        bookkeeping) never reaches view consumers, like the sibling
        JOIN/GROUP BY views."""
        df = self.output.read(spark)
        if df is None:
            return None
        cols = [] if self._global else self.partition_cols
        phys = [
            f.name
            for f in self.physical.fields
            if f.name not in (*cols, "rn")
        ]
        return df.select(*cols, "rn", *phys)


def materialize_topn(
    raw_stream: DataFrame,
    table: str,
    physical: T.StructType,
    key: str,
    partition_cols: Sequence[str],
    order_col: str,
    n: int,
    output_path: str,
    checkpoint_path: str,
    descending: bool = True,
    n_buckets: int = 64,
    ttl: int | None = None,
    ttl_col: str | None = None,
):
    """Continuously-maintained Flink-SQL-style Top-N view over a raw CDC
    stream.  Returns the ``DataStreamWriter``; read back with
    ``ChangelogTopN(...).read_view``."""
    topn = ChangelogTopN(
        table, physical, key, partition_cols, order_col, n, output_path,
        descending=descending, n_buckets=n_buckets,
        ttl=ttl, ttl_col=ttl_col,
    )
    return (
        raw_stream.writeStream.foreachBatch(topn.process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )

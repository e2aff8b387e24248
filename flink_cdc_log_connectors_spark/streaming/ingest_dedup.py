"""Streaming ingestion dedup: minhash-LSH a document stream against the
ACCUMULATED corpus index — the training-pipeline pattern where new data
must be deduped against everything already ingested, not just its own
microbatch.

Per microbatch (``foreachBatch`` → :meth:`IngestDedup.process_batch`):

1. shingle + sign the batch with the SAME md5-60 / universal-hash
   machinery as the batch operators (``operators.dedup``);
2. candidate pairs = new-vs-index band-bucket join ∪ new-vs-new
   band self-join — the batch never joins the full corpus, only its
   band-bucket collisions;
3. exact Jaccard verification over stored shingle sets;
4. verified pairs append to ``pairs/``; the batch's bands + shingle
   sets append to the index, stamped with the epoch.

Index layout (under ``index_path``) — three append-managed
:class:`~.statetable.PartitionedStateTable`\\ s:

- ``bands/``  — (doc_id, band_idx, bh) + the append's ``__epoch`` stamp,
  merge-keyed by doc_id but BUCKETED BY (band_idx, bh) (r9): the probe
  key.  Insert-only, so the bucket hash is pure placement — and it is
  what bounds per-batch index IO: the new-vs-index join reads ONLY the
  buckets the batch's own band keys hash to (``read_buckets`` over
  ``bucket_for(band_idx, bh)``), so per-batch scan bytes follow the
  batch's collision surface, not the corpus (pre-r9 the broadcast-semi
  prefilter bounded the SHUFFLE but still OPENED every bucket file of
  the accumulated index every batch — O(corpus) IO per batch, the exact
  failure class the IVM consumers' bucket pruning removed);
- ``shsets/`` — (doc_id, shset) + ``__epoch``, bucketed by doc_id;
  verification reads prune to the candidate partners' doc buckets;
- ``pairs/``  — (d1, d2, jaccard) + ``__epoch``.

Each batch commits through ``append()`` (O(batch) write, atomic manifest
swap; a RETRIED epoch overwrites its own version — idempotent by
construction, no read-side dedup needed) and ``maybe_compact()`` bounds
every bucket's version-file count at ``compact_threshold`` (LSM-style
fold under a fresh counter-drawn id; row ``__epoch`` stamps survive
compaction, so the replay discipline below is compaction-transparent).
Pre-r9 index dirs (raw ``mode("append")`` parquet, or the r8 state
tables with doc_id-bucketed bands) are migrated in place by
:func:`migrate_ingest_index` — run it once with the stream stopped.

Epoch replay discipline: the new-vs-index join reads only index rows
with ``__epoch < epoch_id`` (r8) — a retried epoch therefore sees
exactly the index the original delivery saw and re-derives the SAME
oriented pairs (its own first-delivery rows are invisible; pre-fix, the
retry joined its own rows through the index and emitted every
intra-batch pair in BOTH orientations).

Crash recovery (ADVICE r8): the three appends commit pairs → shsets →
bands, so the band index can never be AHEAD of the set store — pre-fix
(pairs → bands → shsets) a crash between bands and shsets left bands
committed but shsets empty, and the retry's ``shsets.read()`` returned
None where a DataFrame was assumed, wedging the stream forever.  The
pruned shsets read additionally tolerates None/missing buckets outright
(an index written by the crashed ordering stays recoverable).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hashed_word_ngrams
from ..operators.dedup import BANDS, ROWS_PER_BAND, _band_bucket, minhash_signatures
from .statetable import PartitionedStateTable, epoch_settings


def _batch_bands(doc_sets: DataFrame) -> DataFrame:
    from ..functions.prepared import prepared

    sh = doc_sets.select("doc_id", F.explode("shset").alias("sh"))
    sig = minhash_signatures(sh)
    # band-struct array memoized (r13): ~150 py4j round-trips per
    # rebuild, rebuilt every epoch before
    bands_col = prepared(
        ("ingest_bands", BANDS),
        lambda: F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), _band_bucket(b).alias("bh")
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("e"),
    )
    return sig.select("doc_id", bands_col).select(
        "doc_id", "e.band_idx", "e.bh"
    )


def _verify_pairs(
    cand: DataFrame,
    shsets: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    d1 = shsets.alias("d1")
    d2 = shsets.alias("d2")
    return (
        cand.join(d1, cand.d1 == F.col("d1.doc_id"))
        .join(d2, cand.d2 == F.col("d2.doc_id"))
        .withColumn(
            "common", F.size(F.array_intersect(F.col("d1.shset"), F.col("d2.shset")))
        )
        .withColumn(
            "union_sz",
            F.size(F.col("d1.shset")) + F.size(F.col("d2.shset")) - F.col("common"),
        )
        .filter(
            F.lit(threshold_den) * F.col("common")
            >= F.lit(threshold_num) * F.col("union_sz")
        )
        .select(
            cand.d1,
            cand.d2,
            (F.col("common").cast("double") / F.col("union_sz")).alias("jaccard"),
        )
    )


class IngestDedup:
    """The per-batch machinery behind :func:`streaming_minhash_dedup`,
    exposed as a class so a deterministic batch replay (the
    ``ingest_dedup_replay`` driver witness) can drive the REAL loop —
    same structure as ``TemporalJoin`` / ``ChangelogJoin``."""

    #: bands placement columns — the probe key, NOT the merge key (see
    #: module docstring; insert-only table, so placement is free to
    #: follow the access pattern)
    _BANDS_BUCKET_COLS = ("band_idx", "bh")

    def __init__(
        self,
        index_path: str,
        n: int = 3,
        threshold_num: int = 1,
        threshold_den: int = 5,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 16,
        compact_threshold: int = 16,
        retention_epochs: int | None = None,
    ) -> None:
        #: DEDUP WINDOW (the streaming "dedup within the last N" pattern;
        #: Flink users express it as a TTL on the dedup operator's keyed
        #: state): a batch dedups only against documents ingested within
        #: the last ``retention_epochs`` epochs — the new-vs-index probe
        #: filters the window EXACTLY (``__epoch >= epoch_id - K``, so
        #: semantics are deterministic immediately), and compactions
        #: physically drop index rows that have aged out of the LATEST
        #: epoch's window (storage O(window), not O(corpus); the drop
        #: rides the fold's existing rewrite).  A streaming retry is
        #: always the latest epoch (commits are sequential), whose window
        #: the drop cutoff preserves by construction — so retries still
        #: re-derive identical pairs.  None = dedup against everything
        #: ever ingested (the default corpus-wide contract).
        self.retention_epochs = retention_epochs
        self.n = n
        self.threshold_num = threshold_num
        self.threshold_den = threshold_den
        self.text_col = text_col
        self.id_col = id_col
        #: bound on any index bucket's version-file count — exceeded →
        #: that table folds to one version (amortized O(1/threshold)
        #: per commit, the LSM trade the other state tables make)
        self.compact_threshold = compact_threshold
        self.bands = PartitionedStateTable(
            os.path.join(index_path, "bands"),
            ["doc_id"],
            n_buckets=n_buckets,
            bucket_cols=list(self._BANDS_BUCKET_COLS),
        )
        self.shsets = PartitionedStateTable(
            os.path.join(index_path, "shsets"), ["doc_id"], n_buckets=n_buckets
        )
        self.pairs = PartitionedStateTable(
            os.path.join(index_path, "pairs"), ["d1", "d2"], n_buckets=n_buckets
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from ..functions.prepared import prepared

        spark = batch.sparkSession
        doc_sets = batch.select(
            *prepared(
                ("ingest_docsets", self.id_col, self.text_col, self.n),
                lambda: [
                    F.col(self.id_col).alias("doc_id"),
                    hashed_word_ngrams(F.col(self.text_col), self.n).alias(
                        "shset"
                    ),
                ],
            )
        ).persist()
        new_bands = _batch_bands(doc_sets).persist()
        cand = None
        try:
            # ONE materializing agg for the batch's scalars: row count
            # (empty-batch early-out) + the distinct index buckets the
            # batch's band keys hash to — ≤ n_buckets values, collected
            # in the job that materializes both persists anyway
            stats = new_bands.agg(
                F.count(F.lit(1)).alias("nb"),
                F.collect_set(
                    self.bands.bucket_for(F.col("band_idx"), F.col("bh"))
                ).alias("bks"),
            ).first()
            if stats["nb"] == 0:
                return
            # the commit step; a compaction may rewrite any live bucket
            with epoch_settings(
                spark,
                stats["nb"],
                dict.fromkeys((self.pairs, self.shsets, self.bands)),
            ):
                # new-vs-new candidates (within the batch): smaller id first
                a, b = new_bands.alias("a"), new_bands.alias("b")
                intra = (
                    a.join(
                        b,
                        (F.col("a.band_idx") == F.col("b.band_idx"))
                        & (F.col("a.bh") == F.col("b.bh"))
                        & (F.col("a.doc_id") < F.col("b.doc_id")),
                    )
                    .select(
                        F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
                    )
                )
                # new-vs-index candidates: new doc is always d1.  The index
                # read is PRUNED to the batch's own band-key buckets (bands
                # is bucketed by (band_idx, bh) — per-batch IO follows the
                # batch, not the corpus) and epoch-FILTERED so a retried
                # epoch joins exactly the index its first delivery saw
                # (never its own re-appended rows — which would emit intra
                # pairs in both orientations)
                idx_all = self.bands.read_buckets(spark, sorted(stats["bks"]))
                if idx_all is not None:
                    # Broadcast semi-join prefilter BEFORE the candidate
                    # join: a bucket holds many band groups, so row-level
                    # filtering on the batch's distinct (band_idx, bh) keys
                    # still pays — only band groups the batch actually
                    # collides with enter the shuffle.
                    probe_keys = new_bands.select("band_idx", "bh").distinct()
                    win = F.col("__epoch") < epoch_id
                    if self.retention_epochs is not None:
                        win = win & (
                            F.col("__epoch") >= epoch_id - self.retention_epochs
                        )
                    idx = idx_all.filter(win).join(
                        F.broadcast(probe_keys),
                        ["band_idx", "bh"],
                        "leftsemi",
                    )
                    cross = (
                        new_bands.alias("n")
                        .join(
                            idx.alias("i"),
                            (F.col("n.band_idx") == F.col("i.band_idx"))
                            & (F.col("n.bh") == F.col("i.bh"))
                            & (F.col("n.doc_id") != F.col("i.doc_id")),
                        )
                        .select(
                            F.col("n.doc_id").alias("d1"), F.col("i.doc_id").alias("d2")
                        )
                    )
                    cand = intra.unionByName(cross).distinct().persist()
                    # the verification only needs the candidate PARTNERS'
                    # shingle sets (d2 is the only side that can be an index
                    # doc) — collect their doc buckets (≤ n_buckets) and
                    # prune the set-store read the same way, then row-filter
                    # with a broadcast semi on the candidate ids themselves.
                    # This agg also materializes the cand persist.
                    cb = cand.agg(
                        F.collect_set(self.shsets.bucket_for(F.col("d2"))).alias(
                            "b2"
                        )
                    ).first()
                    sets = doc_sets
                    old = (
                        self.shsets.read_buckets(spark, sorted(cb["b2"]))
                        if cb["b2"]
                        else None
                    )
                    if old is not None:
                        # None-tolerant (ADVICE r8): an index whose crash
                        # left bands ahead of shsets must recover, not wedge
                        needed = cand.select(F.col("d2").alias("doc_id")).distinct()
                        old_sets = (
                            old.select("doc_id", "shset")
                            .join(F.broadcast(needed), ["doc_id"], "leftsemi")
                            .dropDuplicates(["doc_id"])
                        )
                        sets = doc_sets.unionByName(old_sets).dropDuplicates(
                            ["doc_id"]
                        )
                else:
                    cand = intra.distinct()
                    sets = doc_sets
                pairs = _verify_pairs(
                    cand, sets, self.threshold_num, self.threshold_den
                )
                # pairs FIRST (its plan reads the pre-append band manifest),
                # then shsets BEFORE bands (the probe side must never be
                # ahead of the set store — ADVICE r8); a crash between any
                # two retries the epoch and every append idempotently
                # overwrites its own version — convergent
                self.pairs.append(pairs, epoch_id=epoch_id)
                # batch_rows: every doc emits exactly BANDS band rows, so the
                # fused stats' band count names both table sizes for free
                self.shsets.append(
                    doc_sets, epoch_id=epoch_id, batch_rows=stats["nb"] // BANDS
                )
                self.bands.append(
                    new_bands, epoch_id=epoch_id, batch_rows=stats["nb"]
                )
                # compactions drop index rows aged out of the CURRENT (=
                # latest) epoch's dedup window — pure storage GC riding the
                # fold's rewrite; the probe's window filter already made the
                # semantics exact.  The pairs table is the OUTPUT record and
                # never expires.
                expire = None
                if self.retention_epochs is not None:
                    cutoff = epoch_id - self.retention_epochs
                    expire = lambda df: df.filter(F.col("__epoch") >= cutoff)
                for t, tf in (
                    (self.pairs, None),
                    (self.shsets, expire),
                    (self.bands, expire),
                ):
                    t.maybe_compact(spark, self.compact_threshold, transform=tf)
        finally:
            doc_sets.unpersist()
            new_bands.unpersist()
            if cand is not None and getattr(cand, "is_cached", False):
                cand.unpersist()


def streaming_minhash_dedup(
    stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
    compact_threshold: int = 16,
    retention_epochs: int | None = None,
):
    """Returns a ``DataStreamWriter`` running the ingestion-dedup loop.
    Verified near-dup pairs land under ``{index_path}/pairs`` with the
    epoch id; read them back with :func:`read_dedup_pairs`."""
    dd = IngestDedup(
        index_path,
        n=n,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
        compact_threshold=compact_threshold,
        retention_epochs=retention_epochs,
    )
    return (
        stream.writeStream.foreachBatch(dd.process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


def read_dedup_pairs(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Verified pairs.  Exactly-once by the commit protocol itself — a
    retried epoch's ``append`` replaces its own version, so no read-side
    dedup is needed."""
    df = PartitionedStateTable(
        os.path.join(index_path, "pairs"), ["d1", "d2"]
    ).read(spark)
    return None if df is None else df.select("d1", "d2", "jaccard")


# -- one-shot migration -----------------------------------------------------
def _migrate_one(
    spark: SparkSession,
    path: str,
    keys: list[str],
    n_buckets: int,
    bucket_cols: list[str] | None,
    raw_dedup_keys: list[str],
    raw_select: list[str],
) -> bool:
    """Migrate ONE index store in place to the current layout.  Handles
    both legacy shapes:

    - **raw pre-r8 dirs** (plain ``mode("append")`` parquet, no state
      table): read with the old read-side dedup, stamp every row
      ``__epoch = 0``;
    - **r8 state tables with a different bucket spec** (bands was
      doc_id-bucketed): layout-agnostic ``read()``, original ``__epoch``
      stamps preserved.

    The rewrite is a compaction into the new layout
    (:meth:`~.statetable.PartitionedStateTable.adopt`), so a replayed
    append of any migrated epoch no-ops.  Built as a complete sibling dir
    then swapped in with two renames — run with the stream STOPPED; a
    crash mid-swap leaves ``<path>__old``/``__new`` dirs to resolve
    (re-running after restoring ``<path>`` is safe).  Returns whether a
    migration happened."""
    if not os.path.isdir(path):
        return False
    new = PartitionedStateTable(
        path + "__new", keys, n_buckets=n_buckets, bucket_cols=bucket_cols
    )
    cur = PartitionedStateTable(
        path, keys, n_buckets=n_buckets, bucket_cols=bucket_cols
    )
    source = None
    if cur.exists():
        if cur.spec_matches():
            return False  # already the current layout
        df = cur.read(spark)  # read() is layout-agnostic
        if df is None:
            shutil.rmtree(path)
            return False
        source = cur
    else:
        # raw pre-r8 layout: at-least-once appends, so dedup on read;
        # strip legacy extras (pairs carried an `epoch` column) and stamp
        # everything as epoch 0 (the layout had no per-row epochs)
        df = (
            spark.read.parquet(path)
            .dropDuplicates(raw_dedup_keys)
            .select(*raw_select)
            .withColumn("__epoch", F.lit(0))
        )
    shutil.rmtree(new.path, ignore_errors=True)  # crashed prior attempt
    new.adopt(df, source)
    old = path + "__old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(new.path, path)
    shutil.rmtree(old)
    return True


def migrate_ingest_index(
    spark: SparkSession, index_path: str, n_buckets: int = 16
) -> dict[str, bool]:
    """One-shot, in-place migration of an ingest-dedup index to the
    current layout (VERDICT r8 #5: a deployed index is a corpus-sized
    asset — re-ingesting to migrate was the only path before).  Covers
    pre-r8 raw append dirs AND r8 doc_id-bucketed ``bands`` tables; run
    once with the stream stopped, then resume.  Returns per-store
    whether a migration happened.

    **Sizing ``n_buckets`` (VERDICT r9 #8)**: this migration is also the
    natural RE-BUCKETING point for corpus growth — per-batch index IO is
    ``touched_buckets × (index_rows / n_buckets)``, so once the index has
    outgrown its bucket count the pruned read's per-bucket term dominates
    (measured: 23.6% of full-scan bytes at 256 buckets vs 1.5% at 4096 on
    the same corpus, SCALING.md r9).  Rule of thumb: pick ``n_buckets ≈
    index_rows_at_target_corpus / 2M`` rounded up to a power of two — a
    bucket then holds ~2M band rows (tens of MB parquet), small enough
    that a batch probing B distinct band-hash buckets reads O(B·tens MB),
    large enough that the manifest and per-commit file counts stay
    trivial.  Growing the corpus 10× later?  Re-run this migration with
    the next 8-16× bucket count — one full read+write, the same cost as
    one compaction."""
    return {
        "bands": _migrate_one(
            spark,
            os.path.join(index_path, "bands"),
            ["doc_id"],
            n_buckets,
            list(IngestDedup._BANDS_BUCKET_COLS),
            raw_dedup_keys=["band_idx", "bh", "doc_id"],
            raw_select=["doc_id", "band_idx", "bh"],
        ),
        "shsets": _migrate_one(
            spark,
            os.path.join(index_path, "shsets"),
            ["doc_id"],
            n_buckets,
            None,
            raw_dedup_keys=["doc_id"],
            raw_select=["doc_id", "shset"],
        ),
        "pairs": _migrate_one(
            spark,
            os.path.join(index_path, "pairs"),
            ["d1", "d2"],
            n_buckets,
            None,
            raw_dedup_keys=["d1", "d2"],
            raw_select=["d1", "d2", "jaccard"],
        ),
    }

"""Event-time state TTL for the IVM consumers — the deterministic twin
of Flink's ``table.exec.state.ttl``.

Flink bounds changelog-consumer state (regular joins, retract
aggregates, Top-N) with a PROCESSING-time TTL: keyed state idle longer
than the TTL is dropped, which keeps state finite but makes results
depend on wall-clock replay timing — Flink documents the outputs as
approximate under TTL.  This module implements the same state bound on
EVENT time: a fact expires — is retracted from the maintained view and
deleted from fact state — once the stream's watermark (max event time
seen across committed epochs, persisted monotonically) passes
``fact.ts + ttl``.  Expiry is then a pure function of the epoch
sequence: replays converge, and the final view equals the query over
exactly the facts inside the retention window — a DuckDB-checkable
oracle (witnesses: ``changelog_agg_ttl_replay``,
``changelog_join_ttl_replay``).

Every IVM epoch — with or without TTL — runs through one function,
:func:`fused_epoch`: it stages the expiry decision, folds the
synthesized retraction images into the consumer's OWN batch (so an
expiry adds no extra state commits or recompute passes), runs the
consumer's single grouped stats collect, and calls the consumer's
commit step between ``stage()`` and ``finalize()``, under the execution
settings ``statetable.epoch_settings`` picks from the epoch's size.  The
consumer supplies only its bucket key, its output-bucket sets, the
buckets per table those name, and that commit step.  Mechanics:

- **Per-bucket min-ts bounds** (``__ttl_bounds.json``): the expiry scan
  reads only state buckets whose lower bound the cutoff has reached —
  an epoch with nothing to expire reads ZERO extra bytes, keeping
  steady-state cost O(batch + expiring churn), never O(state).  Bounds
  are maintained from stats the consumer's fused per-batch agg already
  collects; batch images only LOWER a bound (before-images carry old
  event times), which is conservative and therefore always safe.  A
  scanned bucket's bound resets to ``cutoff + 1``: everything at or
  below the cutoff was just retracted, and a same-key batch row that
  supersedes its own expiry contributes its event time through the
  batch min.
- **Staged expiry decisions** (``__ttl_syn/epoch=N/``): the retraction
  images are written to disk (atomic tmp-dir rename) BEFORE any state
  mutation and reused verbatim by a same-epoch retry.  Without staging,
  a crash between the state deletion and the view commit would leave a
  retry re-deriving candidates from a state they are already deleted
  from — the deletions replay fine but the VIEW never sees the
  retractions (the crash-convergence class ADVICE r8 flagged in the
  ingest-dedup index).  The stage is GC'd after the epoch's metadata
  commits; stale predecessors are swept on the next epoch's entry.
- **Watermark and bounds are written post-commit** (atomic replace;
  monotone max / conservative min), so a crash replays with
  stale-but-safe metadata.

Retraction images sort with sentinel offsets BELOW every genuine image
of their epoch (``_off_pos = -2``; snapshot rows sit at ``-1``), so a
batch that updates a key in the same epoch its expiry fires wins the
changelog merge — the fact survives with its fresh event time.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prepared import prepared
from .statetable import PartitionedStateTable, epoch_settings, load_json, store_json


def max_committed_epoch(*tables: PartitionedStateTable) -> int | None:
    """Highest integer epoch any of ``tables`` has committed, or None if
    none committed anything (see
    :meth:`PartitionedStateTable.max_committed_epoch`).  Backs the
    ``expire()`` freshness guard below."""
    eps = [t.max_committed_epoch() for t in tables]
    return max((e for e in eps if e is not None), default=None)


def check_expire_epoch(
    epoch_id: int,
    *tables: PartitionedStateTable,
    ttl: "EventTimeTTL | None" = None,
) -> None:
    """Refuse an :meth:`expire`-style pass under a RECYCLED epoch id
    (ADVICE r9): the synthesized retractions would sort below every
    later-epoch stored row in the changelog merge (order leads with
    ``__epoch``), so the expiry silently no-ops — while ``finalize``
    still raises the scanned buckets' bounds past the surviving facts'
    event times, pruning them out of every future scan: they would
    never expire.  Raising here turns that permanent silent divergence
    into an immediate error.  Only ``expire()`` gets the guard: a
    REPLAYED data epoch legitimately re-enters ``stage()`` with an old
    id (the from-epoch-0 re-run contract) and stays convergent because
    its batch re-carries the old facts' event times through
    ``batch_min``, keeping their buckets scannable.

    Exception (r10 code review): a STAGED decision for ``epoch_id``
    still on disk means a prior expire() under this very id crashed
    between its state commits — the stage is only GC'd by ``finalize``
    after everything committed.  That retry is the crash-convergence
    path the staging design exists for (it replays the staged images
    and completes the missing commits), so it is admitted even though
    the crashed attempt already committed state at this id.  A stale
    OTHER-epoch stage can't slip through: ``stage()`` sweeps every
    stage dir but the current epoch's on entry."""
    if ttl is not None and os.path.isdir(ttl._stage_dir(epoch_id)):
        return
    mx = max_committed_epoch(*tables)
    if mx is not None and epoch_id <= mx:
        raise ValueError(
            f"expire() needs a FRESH epoch id: {epoch_id} is not "
            f"strictly greater than the highest committed epoch ({mx}) "
            "— a recycled id would make the synthesized retractions "
            "lose the changelog merge while still sealing the expiry "
            "bounds (facts would silently never expire)"
        )


def heal_pending_expiry(consumer, spark: SparkSession, epoch_id: int) -> None:
    """Complete a crashed ``expire()`` pass from the DATA path (VERDICT
    r10 #1): a published staged decision outside a pass's own
    stage→finalize window means a prior pass died between its state
    commits — ``stage()`` rightly refuses every LATER epoch until that
    pass completes, which used to stall a busy stream until the idle
    ticker fired or an operator re-ran the pass by hand.  Called at the
    top of every consumer's ``process_batch``: replays the staged
    decision under its own epoch — the idempotent recovery
    ``check_expire_epoch`` admits while the stage survives — then lets
    the batch proceed.  A pending stage equal to ``epoch_id`` is left
    alone: that is THIS batch's own retry, and its ``stage()`` call
    reuses the decision inline, folding the retractions with the
    batch's rows (running ``expire()`` on it first would apply them
    without the batch).  No-op for non-TTL consumers and on every
    healthy batch (one directory listing).

    Locking invariant (VERDICT r11 #3): on the RAW (un-sequenced)
    foreachBatch path this runs with NO lock.  That is safe today only
    because no concurrent expirer can exist there — the idle ticker
    (the one out-of-band ``expire()`` driver) requires an
    :class:`~.epochs.EpochSequencer`, and on the sequenced path the
    adapter holds ``seq.lock`` across the whole batch, covering this
    call.  Any future out-of-band expiry added to a RAW deployment must
    bring its own mutual exclusion with ``process_batch`` (or route
    through the sequencer), or this heal races it over the same staged
    decision."""
    proto = getattr(consumer, "_ttl_proto", None)
    if proto is None:
        return
    for pending in proto.staged_epochs():
        if pending != epoch_id:
            consumer.expire(spark, pending)


def _shared_stats(ts_col: str | None) -> list[Column]:
    """The stats every epoch collects per group: row count, retraction
    images applied, and — under TTL — the min/max event time of the
    GENUINE images (the bounds and watermark candidates)."""

    def build():
        aggs = [
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("__syn").cast("long")).alias("syn_n"),
        ]
        if ts_col is not None:
            live_ts = F.when(~F.col("__syn"), F.col(ts_col))
            aggs += [F.min(live_ts).alias("bmin"), F.max(live_ts).alias("bmax")]
        return aggs

    return prepared(("ivm_epoch_stats", ts_col), build)


def fused_epoch(
    consumer,
    spark: SparkSession,
    epoch_id: int,
    rows: DataFrame,
    key: Sequence[Column | str],
    out_sets: Sequence[Column],
    commit: Callable,
    frame: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """One IVM epoch of ``consumer``, whether or not it has TTL: stage the
    expiry decision, fold its retraction images into ``rows`` (the
    parsed fact-side batch) under a ``__syn`` flag, run the epoch's ONE
    grouped stats collect (the only driver action before the commits
    besides the expiry scan), call the commit step, then finalize the
    bounds and watermark.

    ``key`` groups the collect and must name the fact-state bucket of a
    fact-side row ``__b``; ``out_sets`` are the consumer's own aggregate
    columns (the output buckets its commit touches); ``frame`` projects
    the flagged rows first (the join unions its dim side in).
    ``consumer._epoch_buckets(per)`` maps each table the commit writes
    to the buckets the collected rows name (None: the commit collects
    them itself).  The commit step runs inside
    :func:`~.statetable.epoch_settings`, which that map and the
    collected row count size.  ``commit(spark, batch, epoch_id, per,
    touched)`` receives the batch with the retractions folded in, the
    collected rows, and ``touched``: per table, those buckets (none for
    None) unioned with the buckets this epoch already committed to it,
    sorted.  Under TTL a retry's effective batch may have SHRUNK (its
    expiry images are already merged), so the commit must rewrite those
    too; without TTL nothing is unioned — a union there would mask a
    recycled epoch id from the upsert's epoch-reuse guard."""
    ttl = consumer._ttl_proto
    exp, cutoff, syn = (
        ttl.stage(spark, epoch_id) if ttl is not None else ([], None, None)
    )
    flagged = rows.withColumn("__syn", F.lit(False))
    if syn is not None:
        flagged = flagged.unionByName(
            syn.select(*rows.columns).withColumn("__syn", F.lit(True))
        )
    probe = flagged if frame is None else frame(flagged)
    stats = _shared_stats(ttl.ttl_col if ttl is not None else None)
    per = probe.groupBy(*key).agg(*stats, *out_sets).collect()
    if per:
        consumer.expired_applied += sum(r["syn_n"] for r in per)
        named = consumer._epoch_buckets(per)
        touched = {
            t: sorted({*(b or ()), *(t.committed_at(epoch_id) if ttl else ())})
            for t, b in named.items()
        }
        # size by what the commit rewrites: under TTL a retry's shrunk
        # batch may no longer name buckets it already committed
        size_by = {t: None if b is None else touched[t] for t, b in named.items()}
        with epoch_settings(spark, sum(r["cnt"] for r in per), size_by):
            commit(
                spark,
                rows if syn is None else flagged.drop("__syn"),
                epoch_id,
                per,
                touched,
            )
    elif not exp:
        return
    # An empty epoch whose staged decision retracted nothing mutates no
    # state, but its PUBLISHED stage must still be finalized
    # (conservative bounds from the staged survivor minima, then GC) — a
    # stranded stage reads as a crashed pass and every later epoch's
    # stage() refuses to start (r10).
    if ttl is not None:
        # post-commit metadata (monotone / conservative); bmin is None
        # for groups without genuine fact images (the join's dim side)
        wm = [r["bmax"] for r in per if r["bmax"] is not None]
        ttl.finalize(
            epoch_id,
            exp,
            cutoff,
            {str(r["__b"]): r["bmin"] for r in per if r["bmin"] is not None},
            max(wm) if wm else None,
        )


class EventTimeTTL:
    """Expiry protocol for one :class:`PartitionedStateTable` of facts.

    ``meta_dir`` holds the watermark, bounds, and stage files (typically
    the consumer's view/output directory); ``ttl`` is in ``ttl_col``'s
    own units (the column must be numeric event time as stored in the
    state table — post-``derive`` for consumers that project)."""

    def __init__(
        self,
        state: PartitionedStateTable,
        meta_dir: str,
        ttl: int,
        ttl_col: str,
        name: str = "ttl",
    ) -> None:
        self.state = state
        self.meta_dir = meta_dir
        self.ttl = ttl
        self.ttl_col = ttl_col
        #: prefix keeping two TTL'd tables' metadata apart in one dir
        self.name = name
        #: buckets live before the current epoch's upsert (set by
        #: :meth:`stage`); ``None`` until then — ``finalize`` without a
        #: preceding ``stage`` seeds no bounds (conservative)
        self._prior_live: set[int] | None = None

    # -- watermark (monotone max, atomic replace) ---------------------------
    def _wm_path(self) -> str:
        return os.path.join(self.meta_dir, f"__{self.name}_watermark.json")

    def load_wm(self) -> int | None:
        return load_json(self._wm_path(), {"watermark": None})["watermark"]

    def store_wm(self, wm: int | None) -> None:
        if wm is None:
            return
        prior = self.load_wm()
        if prior is not None and prior >= wm:
            return
        store_json(self._wm_path(), {"watermark": wm})

    # -- per-bucket min-ts lower bounds -------------------------------------
    def _bounds_path(self) -> str:
        return os.path.join(self.meta_dir, f"__{self.name}_bounds.json")

    def load_bounds(self) -> dict[str, int]:
        return load_json(self._bounds_path(), {})

    # -- the staged expiry decision ------------------------------------------
    def _stage_dir(self, epoch_id: int) -> str:
        return os.path.join(
            self.meta_dir, f"__{self.name}_syn", f"epoch={epoch_id}"
        )

    def staged_epochs(self) -> list[int]:
        """Epochs with a PUBLISHED staged decision on disk.  Outside a
        pass's own stage→finalize window this is non-empty only after a
        crash — the recovery surface the idle monitor checks so it can
        complete a crashed pass instead of starting a new one."""
        root = os.path.join(self.meta_dir, f"__{self.name}_syn")
        if not os.path.isdir(root):
            return []
        out = []
        for d in os.listdir(root):
            suffix = d.split("=", 1)[-1]
            if d.startswith("epoch=") and suffix.isdigit():
                out.append(int(suffix))
        return sorted(out)

    def _synthesize(self, spark: SparkSession, cutoff: int):
        """(scanned_buckets, retraction_images|None) for every stored
        fact whose ``ttl_col`` is at or before ``cutoff`` — read pruned
        to buckets whose bound the cutoff has reached (plus buckets with
        no bound yet, e.g. TTL enabled on a pre-existing dir)."""
        bounds = self.load_bounds()
        exp = sorted(
            b
            for b in self.state.live_buckets()
            if bounds.get(str(b)) is None or bounds[str(b)] <= cutoff
        )
        cand = self.state.read_buckets(spark, exp) if exp else None
        if cand is None:
            return exp, None
        tcol = F.col(self.ttl_col)
        syn = cand.filter(tcol.isNotNull() & (tcol <= cutoff)).drop("__epoch")
        types = dict((f.name, f.dataType) for f in syn.schema.fields)
        syn = (
            syn.withColumn("op", F.lit("d").cast(types["op"]))
            .withColumn("_off_file", F.lit("").cast(types["_off_file"]))
            .withColumn("_off_pos", F.lit(-2).cast(types["_off_pos"]))
            .withColumn("_off_img", F.lit(-1).cast(types["_off_img"]))
        )
        return exp, syn

    def stage(
        self, spark: SparkSession, epoch_id: int
    ) -> tuple[list[int], int | None, DataFrame | None]:
        """The epoch's expiry decision — (scanned_buckets, cutoff,
        retraction_images|None) — staged to disk before any state
        mutation and reused verbatim by a same-epoch retry (module
        docstring).  The images are read BACK from the stage: a lazy
        plan over the live buckets would race the upsert's post-commit
        GC of the versions it points into."""
        # Snapshot the buckets live BEFORE this epoch's upsert:
        # ``finalize`` may only SEED a bound for a bucket that was
        # provably empty until now (ADVICE r9) — a bucket with
        # pre-existing rows must stay unbounded (None = always scan)
        # until an expiry scan stages its true survivor minimum, or the
        # batch minimum would seal older stored facts out of every
        # future scan (TTL enabled on a pre-existing dir: the first
        # epoch runs before any watermark exists, so no scan covers
        # them and they would never expire).  Captured on EVERY stage
        # call — including the early returns below — because the
        # no-watermark first epoch is exactly the hazardous path.  On a
        # retry the manifest already includes this epoch's buckets, so
        # seeding is suppressed for them too: conservative (one extra
        # scan), never wrong.
        self._prior_live = set(self.state.live_buckets())
        root = os.path.join(self.meta_dir, f"__{self.name}_syn")
        stage = self._stage_dir(epoch_id)
        if os.path.isdir(root):
            for d in os.listdir(root):
                if d == f"epoch={epoch_id}":
                    continue
                suffix = d.split("=", 1)[-1]
                # Published stage for ANOTHER epoch = that pass CRASHED
                # somewhere between staging and finalize (which GC's the
                # stage only after everything commits).  Its fact-state
                # deletions may already be applied — undetectably so: a
                # deletion that EMPTIES a bucket pops the manifest entry
                # — while the staged retractions never reached the view.
                # Sweeping would destroy the only recovery evidence and
                # let this NEW epoch re-derive an empty decision from
                # post-deletion state: permanent silent divergence (r10
                # code review).  Refuse; the crashed epoch's own retry
                # (admitted by check_expire_epoch's staged exception)
                # replays the staged decision idempotently whatever the
                # crash point was.  Unpublished ``.tmp`` dirs (crash
                # mid-publish: no decision exists) are swept.
                if suffix.isdigit():
                    raise ValueError(
                        f"epoch {suffix} staged an expiry decision but "
                        "never finalized — a crashed pass; re-run that "
                        "epoch (same id) to complete it before starting "
                        f"epoch {epoch_id}"
                    )
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        if os.path.isdir(stage):  # retry: reuse the staged decision
            meta = load_json(os.path.join(stage, "_ttl_meta.json"), None)
            syn = spark.read.parquet(stage) if meta["has_rows"] else None
            return meta["exp"], meta["cutoff"], syn
        wm0 = self.load_wm()
        if wm0 is None:
            return [], None, None
        cutoff = wm0 - self.ttl
        exp, syn = self._synthesize(spark, cutoff)
        if not exp:
            return [], cutoff, None
        tmp = stage + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        has_rows = syn is not None
        # per-bucket SURVIVOR minima, staged with the decision: a scanned
        # bucket's bound becomes its actual min surviving event time
        # instead of the weak cutoff+1, so an advancing watermark does
        # not rescan buckets whose facts sit far inside the window.  One
        # extra job, paid only on expiry epochs, over buckets the scan
        # reads anyway; stale-LOW on replays (survivors deleted since),
        # which is the conservative direction.
        #
        # The retraction write and the survivor scan are independent
        # reads of the same live buckets (neither publishes anything —
        # the atomic rename below is the only commit point), so they run
        # as CONCURRENT driver jobs (r12, optimization guide §2.6): one
        # job's planning+execution hides behind the other's.
        survivor_min: dict[str, int] = {}
        if has_rows:
            from concurrent.futures import ThreadPoolExecutor

            def _write_syn():
                syn.write.mode("overwrite").parquet(tmp)

            def _survivors():
                cand = self.state.read_buckets(spark, exp)
                tcol = F.col(self.ttl_col)
                return {
                    str(r["__b"]): r["mn"]
                    for r in cand.filter(tcol.isNotNull() & (tcol > cutoff))
                    .groupBy(self.state._bucket().alias("__b"))
                    .agg(F.min(tcol).alias("mn"))
                    .collect()
                }

            with ThreadPoolExecutor(max_workers=2) as pool:
                fw = pool.submit(_write_syn)
                fs = pool.submit(_survivors)
                fw.result()
                survivor_min = fs.result()
        store_json(
            os.path.join(tmp, "_ttl_meta.json"),
            {
                "exp": exp,
                "cutoff": cutoff,
                "has_rows": has_rows,
                "survivor_min": survivor_min,
            },
        )
        os.rename(tmp, stage)  # atomic publish
        return exp, cutoff, (spark.read.parquet(stage) if has_rows else None)

    # -- post-commit metadata --------------------------------------------
    def finalize(
        self,
        epoch_id: int,
        exp: list[int],
        cutoff: int | None,
        batch_min: dict[str, int],
        wm_candidate: int | None,
    ) -> None:
        """Advance the watermark, apply the bounds rules (module
        docstring), prune bounds to live buckets, GC the stage.  Call
        AFTER the epoch's state commits; ``batch_min`` maps bucket id →
        min ``ttl_col`` over the batch's GENUINE images (synthesized
        retractions excluded)."""
        survivor_min = load_json(
            os.path.join(self._stage_dir(epoch_id), "_ttl_meta.json"), {}
        ).get("survivor_min", {})
        self.store_wm(wm_candidate)
        bounds = self.load_bounds()
        for b in exp:
            # a scanned bucket's post-epoch min = min of its surviving
            # stored rows (staged survivor_min — batch deletes can only
            # RAISE the true min, so it stays a valid lower bound) and
            # the batch's own contributions; cutoff+1 only when both are
            # silent (bucket emptied, or survivors all NULL-ts)
            cands = [
                v
                for v in (survivor_min.get(str(b)), batch_min.get(str(b)))
                if v is not None
            ]
            bounds[str(b)] = min(cands) if cands else cutoff + 1
        escan = set(exp)
        prior_live = self._prior_live
        for b, bm in batch_min.items():
            if int(b) in escan or bm is None:
                continue
            old = bounds.get(b)
            if old is None:
                # SEED only for buckets provably empty before this epoch
                # (ADVICE r9): a bucket that already held rows may hold
                # facts OLDER than the batch minimum — on the
                # pre-existing-dir path no scan has covered them yet, so
                # a batch-min bound would prune them out of every future
                # expiry scan and they would never expire.  Leave such
                # buckets unbounded (always scanned) until an expiry
                # scan stages their true survivor minimum.
                if prior_live is not None and int(b) not in prior_live:
                    bounds[b] = bm
            else:
                bounds[b] = min(old, bm)
        live = {str(b) for b in self.state.live_buckets()}
        store_json(
            self._bounds_path(),
            {b: v for b, v in bounds.items() if b in live},
        )
        shutil.rmtree(self._stage_dir(epoch_id), ignore_errors=True)

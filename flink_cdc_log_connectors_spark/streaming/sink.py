"""Exactly-once APPEND sink for foreachBatch: epoch-ledgered parquet.

`PartitionedStateTable` gives exactly-once for keyed UPSERT outputs; this
is the other half — append-only outputs (audit logs, enriched event
streams, export feeds) where a Structured Streaming epoch replay must not
duplicate rows.  Flink solves it with two-phase-commit sinks; the
replayable-storage equivalent is an idempotent commit ledger:

1. each epoch writes its rows under ``_data/epoch=<id>`` (an overwrite —
   a retry of the same epoch clobbers its own partial output, never
   another epoch's);
2. the epoch id is then committed to ``_ledger.json`` through the state
   layer's one atomic publish, :func:`~.statetable.store_json`;
3. readers (:func:`read_committed`) union exactly the ledgered epochs —
   a crash between write and commit leaves an orphan directory that is
   invisible, re-written on retry, and never double-counted.

Scale (r8): a long-running stream commits one ledger entry AND one data
directory per epoch forever — the same unbounded-bookkeeping class the
state tables' ``compact()`` bounds.  :meth:`compact_epochs` folds the
loose epochs older than ``keep_recent`` into ONE consolidated directory
and (r9, second level) merges ALL tier ledger entries into a single
``[lo, hi]`` range carrying the dir list — ledger metadata is O(1)
entries over unbounded epochs at zero data IO; only the tier-dir list
grows, one per ~``compact_threshold`` epochs (data is consolidated once
and never auto-rewritten: an append-only sink re-merging old tiers
would pay O(total) per compaction for no read benefit —
:meth:`reconsolidate_tiers` offers that trade as a manual maintenance
call).  Range membership is sound because stream epochs are MONOTONE
and dense (every trigger commits): an id at-or-below a committed
range's high end can only ever be a replay, never a fresh epoch — so
claiming an in-range gap id as committed is safe.  Same crash discipline as every
commit here: consolidated dir first, atomic ledger swap second, GC of
the folded dirs after; a crash before the swap leaves an orphan the
retry overwrites (the compaction seq only advances in the swap).
Pass ``compact_threshold`` to fold automatically inside
``process_batch`` once the loose-epoch count exceeds it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .statetable import fold_schema, load_json, schema_reader, store_json

_LEDGER = "_ledger.json"
_DATA = "_data"


class ExactlyOnceAppendSink:
    def __init__(
        self,
        path: str,
        compact_threshold: int | None = 64,
        keep_recent: int = 8,
        tier_threshold: int | None = None,
    ) -> None:
        self.path = path
        #: fold loose epochs once their count exceeds this (None = manual
        #: only).  Default 64: steady-state deployments get a bounded
        #: ledger and bounded directory counts without opting in —
        #: amortized one consolidation read+write per 64 epochs.
        self.compact_threshold = compact_threshold
        #: never fold the newest N epochs (conservatively beyond any
        #: window a Structured Streaming retry could re-deliver)
        self.keep_recent = keep_recent
        #: auto-run :meth:`reconsolidate_tiers` when a fold leaves more
        #: than this many tier directories (VERDICT r9 #8; None = manual
        #: only, the default — each re-merge reads+writes ALL folded data,
        #: so opting in trades O(total) IO every ``tier_threshold`` folds
        #: (≈ ``tier_threshold × compact_threshold`` epochs) for a reader
        #: path list bounded at ``tier_threshold + keep_recent``)
        self.tier_threshold = tier_threshold

    def _ledger_path(self) -> str:
        return os.path.join(self.path, _LEDGER)

    def _load_ledger(self) -> dict:
        """{"epochs": [loose ints], "merged": [{"lo","hi","dir"}],
        "compact_seq": int} — reads the pre-r8 epochs-only format too."""
        led = load_json(
            self._ledger_path(), {"epochs": [], "merged": [], "compact_seq": 0}
        )
        led.setdefault("merged", [])
        led.setdefault("compact_seq", 0)
        return led

    @staticmethod
    def _tier_dirs(m: dict) -> list[str]:
        """A merged ledger entry's data directories — one (legacy ``dir``)
        or many (``dirs``, after a zero-IO ledger fold)."""
        return m["dirs"] if "dirs" in m else [m["dir"]]

    def committed_epochs(self) -> list[int]:
        """Every committed epoch id (compacted ranges expanded)."""
        led = self._load_ledger()
        out = set(led["epochs"])
        for m in led["merged"]:
            out.update(range(m["lo"], m["hi"] + 1))
        return sorted(out)

    def is_committed(self, epoch_id: int) -> bool:
        led = self._load_ledger()
        return epoch_id in led["epochs"] or any(
            m["lo"] <= epoch_id <= m["hi"] for m in led["merged"]
        )

    def _epoch_dir(self, epoch_id: int) -> str:
        return os.path.join(self.path, _DATA, f"epoch={epoch_id}")

    def _merged_dir(self, name: str) -> str:
        return os.path.join(self.path, _DATA, name)

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        led = self._load_ledger()
        if epoch_id in led["epochs"] or any(
            m["lo"] <= epoch_id <= m["hi"] for m in led["merged"]
        ):
            # replay of an already-committed epoch: nothing to do (the
            # data directory / consolidated tier is already authoritative)
            return
        out_dir = self._epoch_dir(epoch_id)
        # overwrite = a retry clobbers its own earlier partial write
        batch.write.mode("overwrite").parquet(out_dir)
        # the ledger keeps the union schema of every committed file so
        # readers skip mergeSchema (statetable.fold_schema); fold BEFORE
        # recording the epoch: the legacy-dir guard must see only files
        # committed by PRIOR epochs (this epoch's schema is exactly
        # `batch.schema`)
        fold_schema(
            led, "schema", bool(led["epochs"] or led["merged"]), batch.schema
        )
        led["epochs"] = sorted([*led["epochs"], epoch_id])
        store_json(self._ledger_path(), led)
        if (
            self.compact_threshold is not None
            and len(led["epochs"]) > self.compact_threshold
        ):
            self.compact_epochs(batch.sparkSession, self.keep_recent)

    def compact_epochs(
        self, spark: SparkSession, keep_recent: int | None = None
    ) -> bool:
        """Fold the loose epochs older than ``keep_recent`` into one
        consolidated directory + one ledger range (see module docstring).
        Returns whether a fold happened (needs ≥ 2 foldable epochs)."""
        keep = self.keep_recent if keep_recent is None else keep_recent
        led = self._load_ledger()
        loose = sorted(led["epochs"])
        # max(0, …): a negative slice index would wrap around and fold
        # the OLDEST 2*len-keep epochs when keep exceeds the loose count,
        # violating the never-fold-the-newest-N invariant (ADVICE r8)
        fold = loose[: max(0, len(loose) - keep)] if keep > 0 else loose
        if len(fold) < 2:
            return False
        seq = led["compact_seq"] + 1
        name = f"merged={seq}"
        # second-level ledger fold (VERDICT r8 #8): tiers are committed in
        # epoch order over DENSE epoch ids (every trigger commits, so the
        # new range abuts the previous tier's high end — and a gap id at
        # or below a committed range can only ever be a replay, never a
        # fresh epoch), so adjacent entries merge into ONE entry carrying
        # the dir LIST at zero data IO.  Ledger metadata stays O(1)
        # entries over unbounded epochs; only the dir list grows (one per
        # ~compact_threshold epochs — see reconsolidate_tiers to bound
        # that too, at re-merge cost).
        prior = led["merged"]
        entry = {"lo": fold[0], "hi": fold[-1], "dirs": [name]}
        if prior:
            entry = {
                "lo": min(prior[0]["lo"], entry["lo"]),
                "hi": max(prior[-1]["hi"], entry["hi"]),
                "dirs": [
                    d for m in prior for d in self._tier_dirs(m)
                ] + entry["dirs"],
            }
        new_led = {
            "epochs": loose[len(fold):],
            "merged": [entry],
            "compact_seq": seq,
        }
        self._rewrite(
            spark, led, [self._epoch_dir(e) for e in fold], name, new_led
        )
        for e in fold:  # GC best-effort, post-commit
            shutil.rmtree(self._epoch_dir(e), ignore_errors=True)
        if (
            self.tier_threshold is not None
            and len(entry["dirs"]) > self.tier_threshold
        ):
            self.reconsolidate_tiers(spark)
        return True

    def reconsolidate_tiers(self, spark: SparkSession) -> bool:
        """Re-merge ALL consolidated tier directories into one — bounds
        ``read_committed``'s path list, which the zero-IO ledger fold
        deliberately does not (an append-only sink re-merging on every
        fold would pay O(total) per compaction for no read benefit, so
        this is a MANUAL maintenance call for deployments whose tier-dir
        count has grown past what their reader startup tolerates).  One
        read+write of all folded data; same crash discipline as every
        commit here (new dir first, atomic ledger swap, GC after)."""
        led = self._load_ledger()
        dirs = [d for m in led["merged"] for d in self._tier_dirs(m)]
        if len(dirs) < 2:
            return False
        seq = led["compact_seq"] + 1
        name = f"merged={seq}"
        new_led = {
            "epochs": led["epochs"],
            "merged": [
                {
                    "lo": led["merged"][0]["lo"],
                    "hi": led["merged"][-1]["hi"],
                    "dirs": [name],
                }
            ],
            "compact_seq": seq,
        }
        self._rewrite(
            spark, led, [self._merged_dir(d) for d in dirs], name, new_led
        )
        for d in dirs:
            shutil.rmtree(self._merged_dir(d), ignore_errors=True)
        return True

    def _rewrite(
        self,
        spark: SparkSession,
        led: dict,
        paths: list[str],
        name: str,
        new_led: dict,
    ) -> None:
        """Rewrite ``paths`` into the consolidated dir ``name``, then
        publish ``new_led`` — the swap commits the rewrite.  The stored
        schema carries over; a ledger without one (pre-schema era, type
        drift) takes the rewrite's schema when the rewrite holds every
        live file — no earlier tier, no loose epoch left — as a table
        compaction re-establishes explicit-schema reads (ADVICE r13)."""
        df = schema_reader(spark, led.get("schema")).parquet(*paths)
        df.write.mode("overwrite").parquet(self._merged_dir(name))
        if "schema" in led:
            new_led["schema"] = led["schema"]
        elif not new_led["epochs"] and new_led["merged"][0]["dirs"] == [name]:
            new_led["schema"] = df.schema.json()
        store_json(self._ledger_path(), new_led)

    def read_committed(self, spark: SparkSession) -> DataFrame | None:
        led = self._load_ledger()
        paths = [
            self._merged_dir(d)
            for m in led["merged"]
            for d in self._tier_dirs(m)
        ] + [self._epoch_dir(e) for e in led["epochs"]]
        if not paths:
            return None
        return schema_reader(spark, led.get("schema")).parquet(*paths)

    def gc_uncommitted(self) -> list[int]:
        """Remove orphan epoch directories (written but never committed —
        crash leftovers) and orphan consolidated dirs (compaction crashed
        before its ledger swap).  Safe any time: only non-ledgered dirs
        go."""
        led = self._load_ledger()
        committed = set(led["epochs"])
        merged_live = {
            d for m in led["merged"] for d in self._tier_dirs(m)
        }
        removed = []
        data_root = os.path.join(self.path, _DATA)
        if not os.path.isdir(data_root):
            return removed
        for name in os.listdir(data_root):
            if name.startswith("merged="):
                if name not in merged_live:
                    shutil.rmtree(
                        os.path.join(data_root, name), ignore_errors=True
                    )
                continue
            if not name.startswith("epoch="):
                continue
            suffix = name.split("=", 1)[1]
            if not suffix.isdigit():
                # stray non-epoch entry (temp suffix, manual copy) — skip it
                # rather than abort the whole sweep (ADVICE r3)
                continue
            eid = int(suffix)
            if eid not in committed:
                # either never committed (orphan), or folded into a
                # consolidated tier (the range is authoritative and this
                # leftover is a crashed compaction's un-GC'd source dir)
                shutil.rmtree(os.path.join(data_root, name), ignore_errors=True)
                removed.append(eid)
        return removed


def exactly_once_append(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    compact_threshold: int | None = 64,
):
    """Attach the sink to a stream: every input row lands in the committed
    output EXACTLY once across any pattern of epoch retries."""
    sink = ExactlyOnceAppendSink(
        output_path, compact_threshold=compact_threshold
    )
    return (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )

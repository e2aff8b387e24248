"""Exactly-once append sink: replay-proof ledgered commits."""

from __future__ import annotations

import os

from flink_cdc_log_connectors_spark.streaming.sink import (
    ExactlyOnceAppendSink,
    exactly_once_append,
)
from flink_cdc_log_connectors_spark.streaming.statetable import fold_schema


def test_replayed_epoch_not_duplicated(spark, tmp_path):
    sink = ExactlyOnceAppendSink(str(tmp_path / "out"))
    b0 = spark.createDataFrame([(1,), (2,)], "x long")
    sink.process_batch(b0, epoch_id=0)
    sink.process_batch(b0, epoch_id=0)  # crash-retry replay
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == [1, 2]

    sink.process_batch(spark.createDataFrame([(3,)], "x long"), epoch_id=1)
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == [1, 2, 3]


def test_uncommitted_epoch_invisible_and_gced(spark, tmp_path):
    sink = ExactlyOnceAppendSink(str(tmp_path / "out"))
    sink.process_batch(spark.createDataFrame([(1,)], "x long"), epoch_id=0)
    # simulate a crash AFTER the data write but BEFORE the ledger commit:
    # write epoch 5's directory directly, never append it to the ledger
    spark.createDataFrame([(99,)], "x long").write.mode("overwrite").parquet(
        sink._epoch_dir(5)
    )
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == [1]  # orphan invisible
    assert sink.gc_uncommitted() == [5]
    assert not os.path.isdir(sink._epoch_dir(5))


def test_streaming_end_to_end_exactly_once(spark, tmp_path):
    import time

    sink_path = str(tmp_path / "out")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    )
    q = (
        exactly_once_append(stream, sink_path, str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        sink = ExactlyOnceAppendSink(sink_path)
        while time.time() < deadline:
            df = sink.read_committed(spark)
            if df is not None and df.count() >= 20:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    df = ExactlyOnceAppendSink(sink_path).read_committed(spark)
    vals = [r["value"] for r in df.select("value").collect()]
    assert len(vals) == len(set(vals)) >= 20  # no duplicates


def test_compaction_folds_old_epochs_exactly_once(spark, tmp_path):
    """compact_epochs: loose epochs older than keep_recent fold into one
    consolidated dir + one ledger range; reads stay exact; a replay of a
    FOLDED epoch is a no-op (range membership)."""
    sink = ExactlyOnceAppendSink(str(tmp_path / "out"))
    for e in range(10):
        sink.process_batch(
            spark.createDataFrame([(e,)], "x long"), epoch_id=e
        )
    assert sink.compact_epochs(spark, keep_recent=2) is True
    led = sink._load_ledger()
    assert led["epochs"] == [8, 9]
    assert len(led["merged"]) == 1 and led["merged"][0]["lo"] == 0
    assert led["merged"][0]["hi"] == 7
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == list(range(10))
    # folded epochs' source dirs are gone; replaying one must NOT rewrite
    assert not os.path.isdir(sink._epoch_dir(3))
    sink.process_batch(
        spark.createDataFrame([(999,)], "x long"), epoch_id=3
    )
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == list(range(10))
    # fewer than 2 foldable → no-op
    assert sink.compact_epochs(spark, keep_recent=2) is False


def test_auto_compaction_policy_bounds_ledger(spark, tmp_path):
    """compact_threshold: process_batch folds automatically, keeping the
    loose-epoch list bounded while reads stay exact."""
    sink = ExactlyOnceAppendSink(
        str(tmp_path / "out"), compact_threshold=3, keep_recent=1
    )
    for e in range(9):
        sink.process_batch(
            spark.createDataFrame([(e,)], "x long"), epoch_id=e
        )
        assert len(sink._load_ledger()["epochs"]) <= 4
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == list(range(9))


def test_compaction_keep_recent_exceeding_loose_count_folds_nothing(
    spark, tmp_path
):
    """REGRESSION (ADVICE r8): keep_recent > loose-epoch count made the
    fold slice index negative, wrapping around and folding the OLDEST
    2*len-keep epochs (5 loose, keep=8 folded 2) — violating the
    never-fold-the-newest-N invariant for manual calls."""
    sink = ExactlyOnceAppendSink(str(tmp_path / "out"), compact_threshold=None)
    for e in range(5):
        sink.process_batch(spark.createDataFrame([(e,)], "x long"), epoch_id=e)
    assert sink.compact_epochs(spark, keep_recent=8) is False
    led = sink._load_ledger()
    assert led["epochs"] == [0, 1, 2, 3, 4] and led["merged"] == []


def test_orphan_merged_dir_gced(spark, tmp_path):
    """A compaction that crashed before its ledger swap leaves an orphan
    consolidated dir — invisible to readers and removed by GC."""
    sink = ExactlyOnceAppendSink(str(tmp_path / "out"))
    sink.process_batch(spark.createDataFrame([(1,)], "x long"), epoch_id=0)
    spark.createDataFrame([(99,)], "x long").write.parquet(
        sink._merged_dir("merged=7")
    )
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == [1]
    sink.gc_uncommitted()
    assert not os.path.isdir(sink._merged_dir("merged=7"))


import pytest


@pytest.mark.parametrize("seed", [2, 19])
def test_randomized_replay_patterns_exactly_once(spark, tmp_path, seed):
    """Random interleavings of fresh epochs and replays (including
    replays of long-committed epochs) never duplicate or lose a row."""
    import random

    rng = random.Random(seed)
    sink = ExactlyOnceAppendSink(str(tmp_path / f"out{seed}"))
    batches = {e: [(e * 100 + i,) for i in range(rng.randint(1, 5))]
               for e in range(8)}
    submitted = []
    for e in range(8):
        submitted.append(e)
        sink.process_batch(
            spark.createDataFrame(batches[e], "x long"), epoch_id=e
        )
        # random replays of any already-committed epoch
        for _ in range(rng.randint(0, 2)):
            r = rng.choice(submitted)
            sink.process_batch(
                spark.createDataFrame(batches[r], "x long"), epoch_id=r
            )
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    want = sorted(x for rows in batches.values() for (x,) in rows)
    assert got == want


def test_tier_ledger_folds_to_one_entry_and_reconsolidates(spark, tmp_path):
    """r9 second-level fold: repeated compactions keep the merged ledger
    at ONE entry (dir list grows, zero data IO), gap ids inside the
    folded range stay replay-no-ops, and reconsolidate_tiers re-merges
    the tier dirs down to one on demand."""
    sink = ExactlyOnceAppendSink(str(tmp_path / "out"), compact_threshold=None)
    for e in range(12):
        sink.process_batch(spark.createDataFrame([(e,)], "x long"), epoch_id=e)
        if e in (5, 11):
            assert sink.compact_epochs(spark, keep_recent=2) is True
    led = sink._load_ledger()
    assert len(led["merged"]) == 1
    assert led["merged"][0]["lo"] == 0 and led["merged"][0]["hi"] == 9
    assert len(led["merged"][0]["dirs"]) == 2
    # replay of an id folded by the FIRST compaction still no-ops
    sink.process_batch(spark.createDataFrame([(999,)], "x long"), epoch_id=2)
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == list(range(12))
    # manual reconsolidation: one tier dir, same data, old dirs gone
    assert sink.reconsolidate_tiers(spark) is True
    led = sink._load_ledger()
    assert len(led["merged"][0]["dirs"]) == 1
    (only_dir,) = led["merged"][0]["dirs"]
    data_root = os.path.join(str(tmp_path / "out"), "_data")
    tiers = [d for d in os.listdir(data_root) if d.startswith("merged=")]
    assert tiers == [only_dir]
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == list(range(12))
    assert sink.reconsolidate_tiers(spark) is False  # single tier: no-op


def test_tier_threshold_auto_reconsolidates(spark, tmp_path):
    """r10 (VERDICT r9 #8): with ``tier_threshold`` set, a fold that
    leaves more tier dirs than the threshold auto-re-merges them — the
    reader's path list stays bounded without manual maintenance."""
    sink = ExactlyOnceAppendSink(
        str(tmp_path / "auto"), compact_threshold=None, tier_threshold=2
    )
    for e in range(18):
        sink.process_batch(spark.createDataFrame([(e,)], "x long"), epoch_id=e)
        if e in (5, 11, 17):
            assert sink.compact_epochs(spark, keep_recent=2) is True
    led = sink._load_ledger()
    # folds at e=5 and e=11 left ≤2 tier dirs (under threshold); the
    # third fold hit 3 > 2 and auto-reconsolidated down to one
    assert len(led["merged"]) == 1
    assert len(led["merged"][0]["dirs"]) == 1
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == list(range(18))
    # replays of ids from every folded generation still no-op
    for replay in (0, 7, 13):
        sink.process_batch(
            spark.createDataFrame([(999,)], "x long"), epoch_id=replay
        )
    got = sorted(r["x"] for r in sink.read_committed(spark).collect())
    assert got == list(range(18))


def test_ledger_stored_schema_matches_merge_schema(spark, tmp_path):
    """r13: the ledger's stored union schema must reproduce mergeSchema
    reads exactly (widened epochs NULL-fill older files), survive
    compaction, and drop to the mergeSchema fallback on type drift."""
    sink = ExactlyOnceAppendSink(str(tmp_path / "sch"), compact_threshold=None)
    sink.process_batch(spark.createDataFrame([(1,)], "x long"), epoch_id=0)
    led = sink._load_ledger()
    assert "schema" in led
    # widening epoch adds a column
    sink.process_batch(
        spark.createDataFrame([(2, "eu")], "x long, region string"),
        epoch_id=1,
    )
    got = sink.read_committed(spark)
    merged = spark.read.option("mergeSchema", "true").parquet(
        *[sink._epoch_dir(e) for e in (0, 1)]
    )
    assert sorted(got.columns) == sorted(merged.columns)
    assert {r["x"]: r["region"] for r in got.collect()} == {1: None, 2: "eu"}
    # schema survives the ledger fold
    sink.process_batch(spark.createDataFrame([(3,)], "x long"), epoch_id=2)
    sink.process_batch(spark.createDataFrame([(4,)], "x long"), epoch_id=3)
    assert sink.compact_epochs(spark, keep_recent=1)
    assert "schema" in sink._load_ledger()
    assert sink.read_committed(spark).count() == 4
    # type drift drops the stored schema -> mergeSchema fallback path
    led = sink._load_ledger()
    from pyspark.sql import types as T

    fold_schema(
        led, "schema", True, T.StructType([T.StructField("x", T.IntegerType())])
    )
    assert "schema" not in led


def test_compaction_restores_lost_ledger_schema(spark, tmp_path):
    """ADVICE r13: a ledger without ``schema`` (pre-schema era, or one
    dropped on type drift) regains it once a compaction rewrites every
    live file — before, no compaction ever restored it and every read
    kept paying the mergeSchema footer merge."""
    import json

    sink = ExactlyOnceAppendSink(str(tmp_path / "lost"), compact_threshold=None)
    sink.process_batch(spark.createDataFrame([(1,)], "x long"), epoch_id=0)
    sink.process_batch(
        spark.createDataFrame([(2, "eu")], "x long, region string"),
        epoch_id=1,
    )
    led = sink._load_ledger()
    led.pop("schema")  # simulate a pre-schema ledger
    with open(os.path.join(sink.path, "_ledger.json"), "w") as f:
        json.dump(led, f)
    assert sink.compact_epochs(spark, keep_recent=0)
    assert "schema" in sink._load_ledger()
    got = sink.read_committed(spark)
    merged = spark.read.option("mergeSchema", "true").parquet(
        *[sink._merged_dir(d) for m in sink._load_ledger()["merged"]
          for d in sink._tier_dirs(m)]
    )
    assert sorted(got.columns) == sorted(merged.columns)
    assert sorted(got.collect()) == sorted(merged.select(*got.columns).collect())
    assert {r["x"]: r["region"] for r in got.collect()} == {1: None, 2: "eu"}

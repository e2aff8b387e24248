"""Per-epoch execution settings (``statetable.epoch_settings``) and the
Spark job count of one epoch of each IVM consumer.

Job counts are deterministic for a fixed plan, so unlike wall-clock they
do not move with host load: a change that adds a job to an epoch fails
here."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from flink_cdc_log_connectors_spark.streaming import statetable
from flink_cdc_log_connectors_spark.streaming.aggregates import ChangelogAggregate
from flink_cdc_log_connectors_spark.streaming.ingest_dedup import IngestDedup
from flink_cdc_log_connectors_spark.streaming.joins import ChangelogJoin, JoinSide
from flink_cdc_log_connectors_spark.streaming.temporal_join import TemporalJoin
from flink_cdc_log_connectors_spark.streaming.topn import ChangelogTopN

FACTS = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("amount", T.LongType()),
        T.StructField("dim_id", T.LongType()),
    ]
)
DIMS = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)
AQE = "spark.sql.adaptive.enabled"
CODEGEN = "spark.sql.codegen.wholeStage"
SHUFFLE = "spark.sql.shuffle.partitions"
SMALL = {AQE: "false", CODEGEN: "false", SHUFFLE: "2"}


def _env(table, op, after=None, before=None, pos=0):
    return json.dumps(
        {
            "before": before,
            "after": after,
            "op": op,
            "ts_ms": 1000 + pos,
            "source": {"db": "d", "table": table, "ts_ms": 1000 + pos,
                       "file": "f.0", "pos": pos},
        }
    )


def _fact(i, grp, amount, dim_id):
    return {"id": i, "grp": grp, "amount": amount, "dim_id": dim_id}


def _raw(spark, epoch):
    """Epoch 0 inserts facts and dims; epoch 1 updates, deletes and
    inserts on both sides."""
    if epoch == 0:
        lines = [_env("dims", "c", {"id": d, "name": f"n{d}"}, pos=d)
                 for d in range(3)]
        lines += [
            _env("facts", "c", _fact(i, f"g{i % 3}", 10 * i, i % 3), pos=10 + i)
            for i in range(8)
        ]
    else:
        lines = [
            _env("dims", "u", {"id": 1, "name": "n1b"},
                 before={"id": 1, "name": "n1"}, pos=100),
            _env("facts", "u", _fact(2, "g0", 99, 1),
                 before=_fact(2, "g2", 20, 2), pos=101),
            _env("facts", "d", before=_fact(3, "g0", 30, 0), pos=102),
            _env("facts", "c", _fact(9, "g1", 5, 2), pos=103),
        ]
    return spark.createDataFrame(
        [(v, "f.0", i) for i, v in enumerate(lines)],
        "value string, file string, pos long",
    )


def _docs(spark, epoch):
    base = "the quick brown fox jumps over the lazy dog again"
    rows = [(10 * epoch + i, f"{base} {epoch} {i % 2}") for i in range(4)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _consumers(root):
    return {
        "agg": ChangelogAggregate(
            "facts", FACTS, "id", ["grp"], f"{root}/agg",
            sum_cols=["amount"], minmax_cols=["amount"], n_buckets=8,
        ),
        "topn": ChangelogTopN(
            "facts", FACTS, "id", ["grp"], "amount", 2, f"{root}/topn",
            n_buckets=8,
        ),
        "join": ChangelogJoin(
            JoinSide("facts", FACTS, "id", "dim_id"),
            JoinSide("dims", DIMS, "id", "id"),
            f"{root}/join",
            n_buckets=8,
        ),
        "ingest": IngestDedup(f"{root}/ingest", n_buckets=4),
        "temporal": TemporalJoin(
            JoinSide("facts", FACTS, "id", "dim_id"),
            JoinSide("dims", DIMS, "id", "id"),
            f"{root}/temporal",
            n_buckets=8,
        ),
    }


def _run_epoch(spark, name, consumer, epoch):
    batch = _docs(spark, epoch) if name == "ingest" else _raw(spark, epoch)
    consumer.process_batch(batch, epoch)


def _count_jobs(sc, group, fn):
    """Jobs ``fn`` launches, as (jobs in job group ``group``, new jobs in
    no group).  A thread the engine starts without passing on the
    caller's local properties launches its jobs in no group."""
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    loose = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    new_loose = set(tracker.getJobIdsForGroup(None)) - loose
    return len(tracker.getJobIdsForGroup(group)), len(new_loose)


#: jobs of one toy epoch into fresh state, per consumer (the temporal
#: join buffers every fact of its first epoch: all are past the watermark)
EPOCH_JOBS = {"agg": 7, "topn": 7, "join": 12, "ingest": 10, "temporal": 7}
#: jobs of the temporal join's next epoch, whose dim update emits the
#: buffered facts, and of ``flush_tail`` emitting the one fact left
TEMPORAL_EMIT_JOBS = {"emit": 9, "flush_tail": 9}


def test_epoch_job_counts(spark, tmp_path):
    sc = spark.sparkContext
    consumers = _consumers(tmp_path)
    got = {
        name: _count_jobs(
            sc,
            f"epoch-jobs-{name}",
            lambda: _run_epoch(spark, name, consumer, 0),
        )
        for name, consumer in consumers.items()
    }
    tj = consumers["temporal"]
    got["emit"] = _count_jobs(
        sc, "epoch-jobs-emit", lambda: _run_epoch(spark, "temporal", tj, 1)
    )
    got["flush_tail"] = _count_jobs(
        sc, "epoch-jobs-flush-tail", lambda: tj.flush_tail(spark, 2)
    )
    assert {name: sum(n) for name, n in got.items()} == {
        **EPOCH_JOBS,
        **TEMPORAL_EMIT_JOBS,
    }
    assert sorted(r["id"] for r in tj.read_view(spark).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 7, 9,
    ]
    # every job runs in the caller's job group, threads included
    assert {name: loose for name, (_, loose) in got.items() if loose} == {}


def test_expiry_epoch_jobs_keep_the_job_group(spark, tmp_path):
    """An expiry pass that retracts rows stages its decision from two
    threads (the retraction write and the survivor scan); their jobs
    carry the caller's job group too."""
    agg = ChangelogAggregate(
        "facts", FACTS, "id", ["grp"], f"{tmp_path}/agg",
        sum_cols=["amount"], n_buckets=8, ttl=30, ttl_col="amount",
    )
    _run_epoch(spark, "agg", agg, 0)  # watermark 70: amounts <= 40 expire
    grouped, loose = _count_jobs(
        spark.sparkContext, "expiry-jobs", lambda: agg.expire(spark, 1)
    )
    assert agg.expired_applied == 5
    assert grouped > 0
    assert loose == 0


def _session(spark):
    return {k: spark.conf.get(k) for k in SMALL}


@pytest.fixture
def record_commit_confs(monkeypatch, spark):
    """The confs every ``upsert`` of the epoch ran under."""
    seen = []
    orig = statetable.PartitionedStateTable.upsert

    def upsert(self, batch, *args, **kwargs):
        seen.append(_session(batch.sparkSession))
        return orig(self, batch, *args, **kwargs)

    monkeypatch.setattr(statetable.PartitionedStateTable, "upsert", upsert)
    return seen


def test_small_epoch_commits_under_small_settings(
    spark, tmp_path, record_commit_confs
):
    session = _session(spark)
    assert session != SMALL
    agg = _consumers(tmp_path)["agg"]
    _run_epoch(spark, "agg", agg, 0)
    assert record_commit_confs == [SMALL, SMALL]  # fact state, then view
    assert _session(spark) == session


def test_settings_restored_when_commit_raises(spark, tmp_path, monkeypatch):
    session = _session(spark)
    seen = []

    def upsert(self, batch, *args, **kwargs):
        seen.append(_session(batch.sparkSession))
        raise RuntimeError("crash inside the commit step")

    monkeypatch.setattr(statetable.PartitionedStateTable, "upsert", upsert)
    agg = _consumers(tmp_path)["agg"]
    with pytest.raises(RuntimeError, match="crash inside the commit step"):
        _run_epoch(spark, "agg", agg, 0)
    assert seen == [SMALL]
    assert _session(spark) == session


def test_large_epoch_keeps_session_settings(
    spark, tmp_path, monkeypatch, record_commit_confs
):
    monkeypatch.setattr(statetable, "_COMMIT_TARGET_BYTES", 1)
    monkeypatch.setattr(statetable, "_COMMIT_TASK_ROWS", 1)
    session = _session(spark)
    agg = _consumers(tmp_path)["agg"]
    _run_epoch(spark, "agg", agg, 0)
    assert record_commit_confs == [session, session]
    assert _session(spark) == session

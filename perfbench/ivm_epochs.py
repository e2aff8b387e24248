"""``ivm_epochs``: a seeded two-table Debezium log replayed closed-loop,
one epoch after another, through the incrementally maintained views.

Each epoch hands one batch of envelopes to ``ChangelogAggregate`` (with
event-time TTL), ``ChangelogTopN`` and ``ChangelogJoin``, and one batch of
documents to ``IngestDedup``; every view is then read back with
``read_view().collect()`` and compared with the state the generator keeps
in plain Python.  The ingest pairs are checked once, at the end, against
the DuckDB MinHash oracle the replay witnesses use.

Why this workload: the per-epoch commit chain (stats probe, state upsert,
touched-group recompute, view upsert, TTL finalize, the ingest index's
three appends) over state that grows epoch by epoch.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import Counter

from pyspark.sql import types as T

from common import SizedInputs, describe, latency

#: physical schemas of the two CDC tables
FACTS = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("amount", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("dim_id", T.LongType()),
    ]
)
DIMS = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.LongType()),
    ]
)
#: event-time TTL of the aggregate, in ``ts`` units (one epoch = 1000)
TTL = 800
TOPN = 3
#: arrival-batch modulus of the ingest oracle: doc ids are
#: ``seq * MAX_EPOCHS + epoch``, so ``doc_id % MAX_EPOCHS`` is the epoch
MAX_EPOCHS = 4096
WORDS = (
    "alpha beta gamma delta epsilon zeta theta iota kappa lambda sigma omega "
    "spark stream batch table view merge state epoch commit log change key "
    "group bucket window join order query filter scan sort hash value row"
).split()

SIZES = {
    # initial facts, dims and documents (the warm-up epoch), then per epoch:
    # fact changes, dim changes, documents; and the number of groups.
    # Chosen values, not taken from a source; RECORDS.md says what each
    # is meant to stress.
    "full": dict(facts0=5000, dims0=500, docs0=200, facts=400, dims=40, docs=24, groups=24),
    "tiny": dict(facts0=60, dims0=10, docs0=6, facts=20, dims=4, docs=6, groups=4),
}


class LogGen:
    """Seeded Debezium change log over ``facts`` and ``dims`` that keeps the
    source tables, and the aggregate's TTL-pruned fact state, in Python."""

    def __init__(self, seed: int, size: dict) -> None:
        self.rng = random.Random(seed)
        self.size = size
        self.facts: dict[int, dict] = {}
        self.dims: dict[int, dict] = {}
        self.agg_facts: dict[int, dict] = {}
        self.wm: int | None = None
        self.next_fact = 1
        self.next_dim = 1
        self.pos = 0
        self.epoch = 0
        n = size["groups"]
        self.groups = [f"g{i:02d}" for i in range(n)]
        # skew: a few hot groups take most of the traffic
        self.group_w = [1.0 / (i + 1) ** 1.2 for i in range(n)]
        self.doc_seq = 0
        self.doc_texts: list[str] = []

    # -- row makers ------------------------------------------------------------
    def _grp(self) -> str | None:
        if self.rng.random() < 0.05:
            return None  # the NULL group is a real group
        return self.rng.choices(self.groups, self.group_w)[0]

    def _ts(self) -> int:
        return self.epoch * 1000 + self.rng.randrange(1000)

    def _fact(self, fid: int) -> dict:
        return {
            "id": fid,
            "grp": self._grp(),
            "amount": self.rng.randrange(1, 10_000),
            "ts": self._ts(),
            "dim_id": self.rng.randrange(1, self.next_dim + 5),
        }

    def _dim(self, did: int) -> dict:
        return {"id": did, "name": f"d{did}-{self.rng.randrange(100)}",
                "score": self.rng.randrange(1000)}

    def _env(self, table: str, op: str, before, after) -> str:
        self.pos += 1
        src = {"db": "bench", "table": table, "ts_ms": self.pos,
               "file": "log.000001", "pos": self.pos}
        return json.dumps({"before": before, "after": after, "op": op,
                           "ts_ms": self.pos, "source": src})

    # -- one epoch -------------------------------------------------------------
    def epoch_envelopes(self) -> list[str]:
        """The next epoch's envelopes; the Python state advances with them."""
        envs: list[str] = []
        first = self.epoch == 0
        n_dims = self.size["dims0"] if first else self.size["dims"]
        n_facts = self.size["facts0"] if first else self.size["facts"]
        for _ in range(n_dims):
            envs.append(self._dim_change(insert_only=first))
        fact_images: list[dict] = []
        for _ in range(n_facts):
            envs.append(self._fact_change(fact_images, insert_only=first))
        self._advance_agg(fact_images)
        self.epoch += 1
        return envs

    def _dim_change(self, insert_only: bool) -> str:
        r = self.rng.random()
        if insert_only or not self.dims or r < 0.3:
            did = self.next_dim
            self.next_dim += 1
            row = self._dim(did)
            self.dims[did] = row
            return self._env("dims", "c", None, row)
        did = self.rng.choice(list(self.dims))
        old = self.dims[did]
        if r < 0.85:
            new = dict(old, score=self.rng.randrange(1000))
            self.dims[did] = new
            return self._env("dims", "u", old, new)
        del self.dims[did]
        return self._env("dims", "d", old, None)

    def _fact_change(self, images: list[dict], insert_only: bool) -> str:
        r = self.rng.random()
        if insert_only or not self.facts or r < 0.45:
            fid = self.next_fact
            self.next_fact += 1
            row = self._fact(fid)
            self.facts[fid] = row
            images.append(("c", None, row))
            return self._env("facts", "c", None, row)
        fid = self.rng.choice(list(self.facts))
        old = self.facts[fid]
        if r < 0.80:  # update: amount, group, dim and event time move
            new = dict(self._fact(fid))
            self.facts[fid] = new
            images.append(("u", old, new))
            return self._env("facts", "u", old, new)
        if r < 0.93:
            del self.facts[fid]
            images.append(("d", old, None))
            return self._env("facts", "d", old, None)
        # primary-key rename: an update whose after-image has a new id
        nid = self.next_fact
        self.next_fact += 1
        new = dict(old, id=nid, ts=self._ts())
        del self.facts[fid]
        self.facts[nid] = new
        images.append(("u", old, new))
        return self._env("facts", "u", old, new)

    def _advance_agg(self, images) -> None:
        """The aggregate's fact state: facts whose event time is at or
        before (watermark of the previous epochs - TTL) expire at the start
        of the epoch, then the epoch's changes apply."""
        if self.wm is not None:
            cutoff = self.wm - TTL
            for k in [k for k, v in self.agg_facts.items() if v["ts"] <= cutoff]:
                del self.agg_facts[k]
        for op, before, after in images:
            if before is not None:
                self.agg_facts.pop(before["id"], None)
            if after is not None:
                self.agg_facts[after["id"]] = after
        ts = [img["ts"] for _, b, a in images for img in (b, a) if img is not None]
        if ts:
            self.wm = max(ts) if self.wm is None else max(self.wm, max(ts))

    def epoch_docs(self, epoch: int) -> list[tuple[int, str]]:
        """Documents arriving this epoch; about a third are near copies of
        an earlier text, so the dedup index finds pairs across epochs."""
        out = []
        for _ in range(self.size["docs0" if epoch == 0 else "docs"]):
            if self.doc_texts and self.rng.random() < 0.35:
                words = self.rng.choice(self.doc_texts).split()
                i = self.rng.randrange(len(words))
                words[i] = self.rng.choice(WORDS)
            else:
                words = [self.rng.choice(WORDS)
                         for _ in range(self.rng.randrange(12, 40))]
            text = " ".join(words)
            self.doc_texts.append(text)
            out.append((self.doc_seq * MAX_EPOCHS + epoch, text))
            self.doc_seq += 1
        return out

    # -- expected views ----------------------------------------------------------
    def expected_agg(self) -> set[tuple]:
        acc: dict = {}
        for f in self.agg_facts.values():
            a = acc.setdefault(f["grp"], [0, 0, None, None])
            a[0] += 1
            a[1] += f["amount"]
            a[2] = f["amount"] if a[2] is None else min(a[2], f["amount"])
            a[3] = f["amount"] if a[3] is None else max(a[3], f["amount"])
        return {(g, *v) for g, v in acc.items()}

    def expected_topn(self) -> set[tuple]:
        by: dict = {}
        for f in self.facts.values():
            by.setdefault(f["grp"], []).append(f)
        out = set()
        for g, rows in by.items():
            rows.sort(key=lambda f: (-f["amount"], f["id"]))
            for rn, f in enumerate(rows[:TOPN], 1):
                out.add((g, rn, f["id"], f["amount"], f["ts"], f["dim_id"]))
        return out

    def expected_join(self) -> set[tuple]:
        out = set()
        for f in self.facts.values():
            d = self.dims.get(f["dim_id"])
            if d is not None:
                out.add((f["id"], f["grp"], f["amount"], f["ts"], f["dim_id"],
                         d["id"], d["name"], d["score"]))
        return out


class State:
    def __init__(self, gen, agg, topn, join, ingest, index_path):
        self.gen, self.agg, self.topn, self.join = gen, agg, topn, join
        self.ingest, self.index_path = ingest, index_path
        self.epoch = 0
        self.docs: list[tuple[int, str]] = []


def _consumers(ws: str):
    from flink_cdc_log_connectors_spark.streaming.aggregates import ChangelogAggregate
    from flink_cdc_log_connectors_spark.streaming.ingest_dedup import IngestDedup
    from flink_cdc_log_connectors_spark.streaming.joins import ChangelogJoin, JoinSide
    from flink_cdc_log_connectors_spark.streaming.topn import ChangelogTopN

    agg = ChangelogAggregate(
        "facts", FACTS, "id", ["grp"], os.path.join(ws, "agg"),
        sum_cols=["amount"], minmax_cols=["amount"], n_buckets=8,
        ttl=TTL, ttl_col="ts",
    )
    topn = ChangelogTopN(
        "facts", FACTS, "id", ["grp"], "amount", TOPN,
        os.path.join(ws, "topn"), n_buckets=8,
    )
    join = ChangelogJoin(
        JoinSide("facts", FACTS, "id", "dim_id"),
        JoinSide("dims", DIMS, "id", "id"),
        os.path.join(ws, "join"), n_buckets=8,
    )
    index_path = os.path.join(ws, "ingest")
    ingest = IngestDedup(index_path, n_buckets=4)
    return agg, topn, join, ingest, index_path


def make_inputs(run_dir: str, seed: int, tiny: bool) -> SizedInputs:
    return SizedInputs(seed, SIZES["tiny" if tiny else "full"])


def prepare(spark, ws: str, inputs: SizedInputs, tracer) -> State:
    """Fresh state directories, consumers and generator."""
    shutil.rmtree(ws, ignore_errors=True)
    os.makedirs(ws)
    return State(LogGen(inputs.seed, inputs.size), *_consumers(ws))


def warm(spark, st: State, tracer) -> None:
    """The initial snapshot epoch: every initial fact and dim as an insert,
    and the first documents."""
    _run_epoch(spark, st, tracer)


def _raw_batch(spark, envs: list[str]):
    from flink_cdc_log_connectors_spark.sources.datasource import RAW_SCHEMA

    return spark.createDataFrame(
        [(e, "log.000001", i) for i, e in enumerate(envs)], RAW_SCHEMA
    )


def _run_epoch(spark, st: State, tracer) -> tuple[float, int]:
    """Hand one epoch to every consumer; returns (seconds until every view
    committed, change events applied)."""
    envs = st.gen.epoch_envelopes()
    docs = st.gen.epoch_docs(st.epoch)
    raw = _raw_batch(spark, envs)
    doc_df = spark.createDataFrame(docs, "doc_id long, text string")
    t0 = time.perf_counter()
    st.agg.process_batch(raw, st.epoch)
    st.topn.process_batch(raw, st.epoch)
    st.join.process_batch(raw, st.epoch)
    st.ingest.process_batch(doc_df, st.epoch)
    wall = time.perf_counter() - t0
    st.docs.extend(docs)
    st.epoch += 1
    return wall, len(envs) + len(docs)


#: read-back rounds after each epoch; ``secondary_s`` is their median
READ_ROUNDS = 3


def _read_views(spark, st: State, tracer, view_reads: list[float]) -> list[str]:
    """Read every view back ``READ_ROUNDS`` times, append the time each
    round took, and return oracle mismatches."""
    from flink_cdc_log_connectors_spark.streaming.ingest_dedup import read_dedup_pairs

    want = {
        "agg": st.gen.expected_agg(),
        "topn": st.gen.expected_topn(),
        "join": st.gen.expected_join(),
    }
    bad = []
    for _ in range(READ_ROUNDS):
        got = {}
        t0 = time.perf_counter()
        for name, read in (
            ("agg", lambda: st.agg.read_view(spark)),
            ("topn", lambda: st.topn.read_view(spark)),
            ("join", lambda: st.join.read_view(spark)),
            ("pairs", lambda: read_dedup_pairs(spark, st.index_path)),
        ):
            with tracer.span("streaming.read_view"):
                df = read()
                rows = [] if df is None else df.collect()
            got[name] = Counter(tuple(r) for r in rows)
        view_reads.append(time.perf_counter() - t0)
        for name, rows in want.items():
            # a row held twice (an upsert appended, not replaced) is wrong too
            dups = sum(c - 1 for c in got[name].values())
            if set(got[name]) != rows or dups:
                bad.append(
                    f"{name} view after epoch {st.epoch - 1}: "
                    f"{len(set(got[name]) - rows)} unexpected, "
                    f"{len(rows - set(got[name]))} missing, {dups} duplicated"
                )
        if bad:
            break
    return bad


def _check_pairs(spark, st: State, notes: list[str]) -> bool:
    """Ingest pairs against the DuckDB MinHash oracle over the documents
    that arrived, oriented by arrival epoch; appends to ``notes`` and
    returns True on a mismatch."""
    import duckdb
    import pandas as pd

    from flink_cdc_log_connectors_spark.operators.replay import (
        _ingest_minhash_oriented_sql,
    )
    from flink_cdc_log_connectors_spark.streaming.ingest_dedup import read_dedup_pairs

    con = duckdb.connect()
    try:
        docs = pd.DataFrame(st.docs, columns=["doc_id", "text"])
        con.register("documents", docs)
        want = con.execute(
            _ingest_minhash_oriented_sql(n_batches=MAX_EPOCHS)
        ).fetchall()
    finally:
        con.close()
    df = read_dedup_pairs(spark, st.index_path)
    got = [] if df is None else [tuple(r) for r in df.collect()]
    want_k = {(d1, d2): j for d1, d2, j in want}
    got_k = {(d1, d2): j for d1, d2, j in got}
    if set(want_k) != set(got_k) or len(got) != len(got_k):
        notes.append(f"ingest pairs: {len(got)} found, {len(want_k)} expected")
    elif any(abs(want_k[k] - got_k[k]) > 1e-9 for k in want_k):
        notes.append("ingest pairs: jaccard differs from the oracle")
    elif not want_k:
        notes.append("ingest pairs: the corpus produced no near-duplicate pairs")
    else:
        return False
    return True


def install_trace(tracer) -> None:
    from flink_cdc_log_connectors_spark.streaming import (
        aggregates,
        joins,
        topn,
    )
    from flink_cdc_log_connectors_spark.streaming.ingest_dedup import IngestDedup
    from flink_cdc_log_connectors_spark.streaming.statetable import (
        PartitionedStateTable,
    )

    for mod in (aggregates, topn, joins):
        tracer.wrap(mod, "parse_change_rows", "sources.parse", force=True)
    tracer.wrap(aggregates.ChangelogAggregate, "process_batch", "streaming.agg.process_batch")
    tracer.wrap(topn.ChangelogTopN, "process_batch", "streaming.topn.process_batch")
    tracer.wrap(joins.ChangelogJoin, "process_batch", "streaming.join.process_batch")
    tracer.wrap(IngestDedup, "process_batch", "streaming.ingest.process_batch")
    wrap_statetable(tracer, PartitionedStateTable)


def wrap_statetable(tracer, cls) -> None:
    def _upsert_done(tr, args, kwargs, out):
        tr.count("statetable.upsert_calls")

    def _read_done(tr, args, kwargs, out):
        buckets = kwargs.get("buckets", args[2] if len(args) > 2 else ())
        tr.count("statetable.buckets_read", len(buckets))

    tracer.wrap(cls, "upsert", "statetable.upsert", _upsert_done)
    tracer.wrap(cls, "append", "statetable.append")
    tracer.wrap(cls, "read_buckets", "statetable.read_buckets", _read_done)


def state_tables(st: State):
    return [
        st.agg.fact_state, st.agg.output, st.topn.fact_state, st.topn.output,
        st.join.left_state, st.join.right_state, st.join.output,
        st.ingest.bands, st.ingest.shsets, st.ingest.pairs,
    ]


class StateProbe:
    """Per-op manifest diff and directory-size delta over a set of state
    tables (traced run only: it lists files after every op)."""

    def __init__(self, tables) -> None:
        self.tables = tables
        self.snap = self._snapshot()

    def _snapshot(self):
        manifests = [t.load_manifest() for t in self.tables]
        size = 0
        for t in self.tables:
            for dp, _, fs in os.walk(t.path):
                for f in fs:
                    try:
                        size += os.path.getsize(os.path.join(dp, f))
                    except OSError:
                        pass  # removed by a concurrent GC between listing and stat
        compactions = sum(t.compactions_committed() for t in self.tables)
        return manifests, size, compactions

    def record(self, tracer) -> None:
        manifests, size, compactions = self._snapshot()
        old_m, old_size, old_c = self.snap
        rewritten = sum(
            1
            for a, b in zip(old_m, manifests)
            for k, v in b.items()
            if k.isdigit() and a.get(k) != v
        )
        tracer.count("statetable.buckets_rewritten", rewritten)
        tracer.count("statetable.bytes_written", max(0, size - old_size))
        tracer.count("statetable.compactions", compactions - old_c)
        self.snap = (manifests, size, compactions)


def measure(spark, st: State, tracer, clock) -> dict:
    from flink_cdc_log_connectors_spark.streaming.pipeline import (
        consumer_state_metrics,
    )

    epochs: list[float] = []
    view_reads: list[float] = []
    applied = 0
    attempted = failed = 0
    notes: list[str] = []
    probe = StateProbe(state_tables(st)) if tracer.enabled else None
    expired0 = st.agg.expired_applied
    while not clock.expired() and st.epoch < MAX_EPOCHS:
        attempted += 1
        tracer.begin_op(f"e{st.epoch}")
        try:
            wall, n = _run_epoch(spark, st, tracer)
        except Exception as e:  # an epoch that raises is a failed op
            tracer.end_op()
            failed += 1
            notes.append(f"epoch {st.epoch}: {type(e).__name__}: {e}")
            break
        tracer.end_op()
        epochs.append(wall)
        applied += n
        if probe is not None:
            probe.record(tracer)
            dim = consumer_state_metrics(st.join).get("dimBucketsOpened")
            tracer.count("streaming.join.dim_buckets_opened", dim or 0)
        tracer.begin_op(f"r{st.epoch - 1}")
        bad = _read_views(spark, st, tracer, view_reads)
        tracer.end_op()
        if bad:
            failed += 1
            notes += bad
            break
    timed = clock.elapsed()
    attempted += 1
    if failed or _check_pairs(spark, st, notes):
        failed += 1
    expired = st.agg.expired_applied - expired0
    return {
        "e2e": {
            **(latency(epochs) if epochs else {"op_latency_s": 0.0, "op_tail_s": 0.0}),
            "rate_per_s": applied / timed,
            # reading every view back after an epoch
            "secondary_s": statistics.median(view_reads) if view_reads else 0.0,
        },
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "ops": [f"e{e}" for e in range(st.epoch - len(epochs), st.epoch)],
        "lines": [
            f"# epochs={len(epochs)} change_rows={applied} timed={timed:.2f}s "
            f"expired_rows={expired}",
            describe("epoch_s", epochs) if epochs else "# no epochs",
            describe("view_read_s", view_reads) if view_reads else "# no view reads",
        ],
        "expired_rows": expired,
    }


def teardown(spark, st: State) -> None:
    spark.catalog.clearCache()


def layer_metrics(tracer, res: dict, event_log: str) -> dict:
    ops = res["ops"]
    reads = [f"r{op[1:]}" for op in ops]
    out = {
        "sources.parse_s": tracer.span_seconds("sources.parse", ops),
        # one read-back round per epoch
        "streaming.read_view_s": tracer.span_seconds("streaming.read_view", reads)
        / READ_ROUNDS,
        "streaming.expired_rows": res["expired_rows"] / max(1, len(ops)),
        "trace.unattributed_s": tracer.unattributed(ops),
    }
    for c in ("agg", "topn", "join", "ingest"):
        out[f"streaming.{c}.process_batch_s"] = tracer.span_seconds(
            f"streaming.{c}.process_batch", ops
        )
    out.update(statetable_metrics(tracer, ops))
    out["streaming.join.dim_buckets_opened"] = tracer.counter(
        "streaming.join.dim_buckets_opened", ops
    )
    out.update(tracer.spark_split(event_log, ops))
    return out


def statetable_metrics(tracer, ops: list[str]) -> dict:
    return {
        "statetable.upsert_s": tracer.span_seconds("statetable.upsert", ops),
        "statetable.upsert_calls": tracer.counter("statetable.upsert_calls", ops),
        "statetable.append_s": tracer.span_seconds("statetable.append", ops),
        "statetable.read_buckets_s": tracer.span_seconds("statetable.read_buckets", ops),
        "statetable.buckets_read": tracer.counter("statetable.buckets_read", ops),
        "statetable.buckets_rewritten": tracer.counter("statetable.buckets_rewritten", ops),
        "statetable.bytes_written": tracer.counter("statetable.bytes_written", ops),
        "statetable.compactions": tracer.counter("statetable.compactions", ops),
    }

"""``batch_queries``: a fixed, named subset of the registry's queries over
cached seeded tables, built and collected one after another (closed
loop, one client).  Every result is checked against the registry's
DuckDB oracle, whose hashes are computed once, before the timed region.

Why this workload: it covers ``operators``, ``io`` and Catalyst with no
streaming state.  Most of these queries take about a second or less, so
per-query overhead shows; it is the "should not move" control for IVM and
source changes.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from common import describe, tail

#: sub-second relational queries plus the open perf items of the roadmap
#: (q08, the text family, the session window, k-means); no replay witnesses
QUERIES = (
    "q02_filter",
    "q03_group_agg",
    "q04_count_distinct",
    "q05_join_agg",
    "q08_wide_agg",
    "q33_small_qty_revenue",
    "hypertable_fill_values",
    "text_bm25_topk",
    "text_token_stats",
    "events_session_window_tvf",
    "emb_kmeans_assign",
)


#: TPC-H scale of the seeded tables (600k lineitem rows)
SCALE = 0.1


class Inputs:
    def __init__(self, sf_dir: str, oracle: dict[str, tuple[list[str], int, str] | None]):
        self.sf_dir = sf_dir
        #: query -> (column names, row count, value hash), or None for a
        #: query the registry gives no SQL oracle (``emb_kmeans_assign``)
        self.oracle = oracle


def _hash(cols, rows) -> str:
    from scripts.selfcheck import hash_rows

    return hash_rows(list(cols), [tuple(r) for r in rows])


def make_inputs(run_dir: str, seed: int, tiny: bool) -> Inputs:
    """Seeded tables, and the DuckDB oracle's hash of every query on them."""
    import duckdb

    from flink_cdc_log_connectors_spark.io import TABLES
    from flink_cdc_log_connectors_spark.registry import all_queries
    from tables import write_tables

    sf_dir = os.path.join(run_dir, "tables")
    write_tables(sf_dir, seed, scale=0.001 if tiny else SCALE)
    registry = all_queries()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        oracle = {}
        for name in QUERIES:
            sql = registry[name][1]
            if sql is None:
                oracle[name] = None
                continue
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            oracle[name] = (sorted(cols), len(rows), _hash(cols, rows))
    finally:
        con.close()
    return Inputs(sf_dir, oracle)


class State:
    def __init__(self, inputs: Inputs) -> None:
        from flink_cdc_log_connectors_spark.registry import all_queries

        self.inputs = inputs
        registry = all_queries()
        self.fns = {name: registry[name][0] for name in QUERIES}
        #: first result hash of each query in this run
        self.first: dict[str, str] = {}


def prepare(spark, ws: str, inputs: Inputs, tracer) -> State:
    """Pin every table in memory, as a warehouse serving a query mix does."""
    from flink_cdc_log_connectors_spark import io

    io.cache_tables(spark, inputs.sf_dir)
    return State(inputs)


def teardown(spark, st: State) -> None:
    from flink_cdc_log_connectors_spark import io

    io.clear_table_cache()


def install_trace(tracer) -> None:
    from flink_cdc_log_connectors_spark import caching, io

    tracer.wrap(io, "cache_tables", "io.cache_tables")
    tracer.wrap(caching, "release_intermediates", "caching.release")


def _check(st: State, name: str, cols, rows) -> str | None:
    got = _hash(cols, rows)
    if st.inputs.oracle[name] is None:
        # no SQL oracle: the registry's rows-only rule, and every result of
        # the run must equal the first one
        if not rows:
            return f"{name}: no rows"
        if st.first.setdefault(name, got) != got:
            return f"{name}: result differs from its first result in this run"
        return None
    want_cols, want_n, want_hash = st.inputs.oracle[name]
    if sorted(cols) != want_cols:
        return f"{name}: columns {sorted(cols)} != oracle {want_cols}"
    if len(rows) != want_n:
        return f"{name}: {len(rows)} rows, oracle has {want_n}"
    if got != want_hash:
        return f"{name}: value hash differs from the oracle"
    return None


def measure(spark, st: State, tracer, clock) -> dict:
    """Whole passes over the subset until the clock runs out (at least one
    pass, so every query has a sample)."""
    from flink_cdc_log_connectors_spark import caching

    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    samples: list[float] = []
    plan_s: dict[str, float] = {}
    exec_s: dict[str, float] = {}
    ops: list[str] = []
    attempted = failed = 0
    notes: list[str] = []
    passes = 0
    while passes == 0 or not clock.expired():
        for name in QUERIES:
            op = f"p{passes}:{name}"
            attempted += 1
            tracer.begin_op(op)
            try:
                t0 = time.perf_counter()
                with tracer.span("operators.plan"):
                    df = st.fns[name](spark, st.inputs.sf_dir)
                t1 = time.perf_counter()
                with tracer.span("operators.exec"):
                    rows = df.collect()
                t2 = time.perf_counter()
                bad = _check(st, name, df.columns, rows)
            except Exception as e:  # a query that raises is a failed op
                t1 = t2 = time.perf_counter()
                bad = f"{name}: {type(e).__name__}: {e}"
            tracer.end_op()
            caching.release_intermediates()
            if bad:
                failed += 1
                notes.append(bad)
                continue
            per_query[name].append(t2 - t0)
            samples.append(t2 - t0)
            plan_s[op], exec_s[op] = t1 - t0, t2 - t1
            ops.append(op)
            if clock.expired() and passes > 0:
                break
        passes += 1
    timed = clock.elapsed()
    medians = [statistics.median(v) for v in per_query.values() if v]
    return {
        "e2e": {
            # the subset mixes query classes whose times differ tenfold, so
            # its median sits in a gap between classes and jumps from run to
            # run; the geometric mean of the per-query medians does not
            "op_latency_s": math.exp(statistics.fmean(math.log(m) for m in medians))
            if medians else 0.0,
            "op_tail_s": tail(samples)[0] if samples else 0.0,
            "rate_per_s": len(samples) / timed,
            # one pass over the subset: each query's median time, summed
            "secondary_s": sum(medians),
        },
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "ops": ops,
        "plan_s": plan_s,
        "exec_s": exec_s,
        "lines": [f"# passes={passes} queries={len(samples)} timed={timed:.2f}s"]
        + [describe(q, v) for q, v in per_query.items() if v],
    }


def layer_metrics(tracer, res: dict, event_log: str) -> dict:
    ops = res["ops"]
    n = max(1, len(ops))
    out = {
        "operators.plan_s": sum(res["plan_s"].values()) / n,
        "operators.exec_s": sum(res["exec_s"].values()) / n,
        "io.cache_tables_s": tracer.span_seconds("io.cache_tables", ["setup"]),
        "caching.release_s": tracer.span_seconds("caching.release", ops),
        "trace.unattributed_s": tracer.unattributed(ops),
    }
    out.update(tracer.spark_split(event_log, ops))
    return out

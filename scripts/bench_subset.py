"""Ad-hoc subset timer: bench.py's protocol (JVM + pandas-udf warm-up,
table cache, interleaved rounds, min per query) over only the named
queries — for measuring a witness diet without paying the full suite.

Usage: python scripts/bench_subset.py q1 [q2 ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_RUNS (default 2 — witnesses must re-run in one
     process; see the fresh-dir trap in tests' replay discipline).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_cdc_log_connectors_spark.registry import all_queries
from flink_cdc_log_connectors_spark.session import get_spark
from perfbench.common import warm_up


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-subset")
    warm_up(spark)

    from flink_cdc_log_connectors_spark.caching import release_intermediates
    from flink_cdc_log_connectors_spark.io import cache_tables

    cache_tables(spark, sf_dir)
    qmap = all_queries()
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    for _ in range(max(1, runs)):
        for name in names:
            fn, _sql = qmap[name]
            t0 = time.time()
            n = len(fn(spark, sf_dir).collect())
            el = time.time() - t0
            print(f"#   {name}: {el:.2f}s rows={n}", file=sys.stderr)
            timings[name] = min(el, timings.get(name, float("inf")))
            release_intermediates()
    print(json.dumps({k: round(v, 2) for k, v in timings.items()}))


if __name__ == "__main__":
    main()

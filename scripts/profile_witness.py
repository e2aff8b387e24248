"""Per-job timeline profiler for a registry query (guide §1: measure
first).  Runs the named queries under bench-identical session/warmup,
with the Spark event log enabled, then reconstructs each query's job
timeline: total wall, sum of job runtimes, and the DRIVER GAPS between
jobs (Catalyst planning + py4j plan construction + fs bookkeeping).

Usage: python scripts/profile_witness.py [--cprofile] q1 [q2 ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_RUNS (default 2).
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

EVDIR = "/tmp/spark-events-r13"


def main() -> None:
    args = sys.argv[1:]
    do_cprofile = "--cprofile" in args
    names = [a for a in args if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(EVDIR, exist_ok=True)
    spark = get_spark(
        "profile-witness",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{EVDIR}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    app_id = spark.sparkContext.applicationId
    warm_up(spark)

    from flink_cdc_log_connectors_spark.caching import release_intermediates
    from flink_cdc_log_connectors_spark.io import cache_tables

    cache_tables(spark, sf_dir)
    qmap = all_queries()
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    windows: list[tuple[str, int, float, float]] = []  # name, run, t0, t1
    prof = None
    if do_cprofile:
        import cProfile

        prof = cProfile.Profile()
    for r in range(max(1, runs)):
        for name in names:
            fn, _sql = qmap[name]
            t0 = time.time()
            if prof is not None and r == runs - 1:
                prof.enable()
            n = len(fn(spark, sf_dir).collect())
            if prof is not None and r == runs - 1:
                prof.disable()
            t1 = time.time()
            print(f"#   run{r} {name}: {t1-t0:.2f}s rows={n}", file=sys.stderr)
            windows.append((name, r, t0, t1))
            release_intermediates()
    spark.stop()
    if prof is not None:
        import pstats

        st = pstats.Stats(prof)
        st.sort_stats("cumulative")
        st.dump_stats("/tmp/witness_profile.pstats")
        print("# cProfile (top 40 by cumtime):", file=sys.stderr)
        st.stream = sys.stderr
        st.print_stats(40)

    # -- parse the event log ------------------------------------------------
    evfile = os.path.join(EVDIR, app_id)
    if not os.path.exists(evfile):
        # rolling event log layout (eventlog_v2_<appid>/events_*)
        d = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, p) for p in os.listdir(d)
            if p.startswith("events_")
        )
    else:
        parts = [evfile]
    jobs = []  # (job_id, submit_ms, end_ms, desc, n_stages)
    pend: dict[int, tuple[float, str, int]] = {}

    def _lines():
        import io

        for p in parts:
            if p.endswith(".zstd"):
                import zstandard

                with open(p, "rb") as raw:
                    dctx = zstandard.ZstdDecompressor()
                    with dctx.stream_reader(raw) as sr:
                        yield from io.TextIOWrapper(sr, encoding="utf-8")
            else:
                with open(p) as f:
                    yield from f

    if True:
        for line in _lines():
            if (
                '"SparkListenerJobStart"' not in line
                and '"SparkListenerJobEnd"' not in line
            ):
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                ) or ev.get("Properties", {}).get("callSite.short", "")
                pend[ev["Job ID"]] = (
                    ev["Submission Time"],
                    desc,
                    len(ev.get("Stage IDs", [])),
                )
            else:
                jid = ev["Job ID"]
                if jid in pend:
                    sub, desc, ns = pend.pop(jid)
                    jobs.append((jid, sub, ev["Completion Time"], desc, ns))
    jobs.sort(key=lambda j: j[1])
    for name, r, t0, t1 in windows:
        t0ms, t1ms = t0 * 1000, t1 * 1000
        win = [j for j in jobs if j[1] >= t0ms and j[2] <= t1ms + 500]
        wall = t1 - t0
        jtime = sum((j[2] - j[1]) for j in win) / 1000
        # serialized gap: time not covered by ANY job interval
        ivs = sorted((j[1], j[2]) for j in win)
        covered = 0.0
        cur_s, cur_e = None, None
        for s, e in ivs:
            if cur_s is None:
                cur_s, cur_e = s, e
            elif s <= cur_e:
                cur_e = max(cur_e, e)
            else:
                covered += cur_e - cur_s
                cur_s, cur_e = s, e
        if cur_s is not None:
            covered += cur_e - cur_s
        gap = wall - covered / 1000
        print(
            f"== run{r} {name}: wall={wall:.2f}s jobs={len(win)} "
            f"jobtime(sum)={jtime:.2f}s covered={covered/1000:.2f}s "
            f"gaps={gap:.2f}s"
        )
        for j in win:
            print(
                f"     job {j[0]:>4} {(j[2]-j[1])/1000:7.3f}s "
                f"start+{(j[1]-t0ms)/1000:7.3f}s stages={j[4]} {j[3][:90]}"
            )


if __name__ == "__main__":
    main()

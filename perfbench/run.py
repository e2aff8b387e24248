"""Benchmark entry point: runs one workload against the engine in the
current directory and prints one JSON result line.

    python3 perfbench/run.py --workload ivm_epochs --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (the traced run also prints its own end-to-end values as ``# e2e``
lines, so the tracing overhead can be read off).  ``--tiny`` shrinks the
inputs; ``--smoke`` runs every workload tiny and traced and checks that
every metric named in ``BENCHMARK.json`` is printed with its unit.  The
exit code is non-zero when an oracle disagrees or an operation fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("ivm_epochs", "live_cdc", "batch_queries")


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args) -> int:
    from common import Clock, start_spark, stop_spark, warm_up
    from tracing import NullTracer, Tracer

    wl = importlib.import_module(args.workload)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # every temporary file of this process and its Python workers stays
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, f"local[{args.cores}]", event_log)
        warm_up(spark)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, args.workload) if args.trace else NullTracer()
        wl.install_trace(tracer)
        inputs = wl.make_inputs(run_dir, args.seed, args.tiny)
        tracer.begin_op("setup")
        t0 = time.perf_counter()
        state = wl.prepare(spark, os.path.join(run_dir, "ws"), inputs, tracer)
        prep_s = time.perf_counter() - t0
        tracer.end_op()
        # warm-up work (the initial load of a stateful workload) counts in
        # setup_s too
        warm_s = 0.0
        if hasattr(wl, "warm"):
            tracer.begin_op("warm")
            t0 = time.perf_counter()
            wl.warm(spark, state, tracer)
            warm_s = time.perf_counter() - t0
            tracer.end_op()
        setup_s = session_s + prep_s + warm_s
        if args.capacity:
            for line in wl.capacity(spark, state):
                print(line)
            wl.teardown(spark, state)
            return 0
        res = wl.measure(spark, state, tracer, Clock(args.seconds))
        wl.teardown(spark, state)
        tracer.unwrap_all()
        e2e = {"setup_s": setup_s, **res["e2e"]}
        lines = list(res["lines"])
        lines.append(
            f"# setup: session={session_s:.3f}s prepare={prep_s:.3f}s warm={warm_s:.3f}s"
        )
        layer = None
        if args.trace:
            # stopping flushes the event log the layer split is read from
            stop_spark(spark)
            spark = None
            layer = wl.layer_metrics(tracer, res, event_log)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-s{args.seed}.json")
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    spec = _bench_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for note in res["notes"]:
        print(f"# FAILED: {note}")
    for line in lines:
        print(line)
    if args.trace:
        for k, v in e2e.items():
            print(f"# e2e {k} {v!r} {units[k]}")
        unknown = set(layer) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer the workload does not exercise did no work: 0
        values = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in values.items()
                },
            }
        )
    )
    return 0 if correct else 1


def smoke(args) -> int:
    """Every workload tiny and traced: each must pass its oracle and print
    every end-to-end metric (``# e2e`` lines) and every per-layer metric
    (the JSON line), each with the unit ``BENCHMARK.json`` names."""
    spec = _bench_spec()
    ok = True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", "3", "--trace", "1", "--tiny"]
        t0 = time.time()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
        lines = p.stdout.strip().splitlines()
        problems = []
        if p.returncode != 0 or not lines:
            problems.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
        else:
            out = json.loads(lines[-1])
            e2e = {}
            for line in lines:
                if line.startswith("# e2e "):
                    _, _, k, v, unit = line.split(" ")
                    e2e[k] = unit
            for m in spec["end_to_end"]:
                if e2e.get(m["name"]) != m["unit"]:
                    problems.append(f"end-to-end metric {m['name']} missing")
            for m in spec["per_layer"]:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"per-layer metric {m['name']} missing")
            if not out["correct"] or out["failed"]:
                problems.append("oracle failed")
        ok = ok and not problems
        status = "ok" if not problems else "FAILED " + "; ".join(problems)
        print(f"smoke {name}: {status} ({time.time() - t0:.1f}s)")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                    help="local[N] parallelism (default: every core)")
    ap.add_argument("--capacity", action="store_true",
                    help="live_cdc only: print the closed-loop capacities the "
                         "writer rate is derived from, instead of measuring")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "flink_cdc_log_connectors_spark")):
        print(
            "perfbench: run from the repository root (the engine package "
            "flink_cdc_log_connectors_spark is not in the current directory)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.smoke:
        return smoke(args)
    if args.workload is None:
        ap.error("--workload is required")
    if args.capacity and args.workload != "live_cdc":
        ap.error("--capacity applies to live_cdc only")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

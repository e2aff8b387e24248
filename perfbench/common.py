"""Plumbing shared by the workloads: the run directory, the Spark session,
sample statistics and the result record."""

from __future__ import annotations

import os
import statistics
import subprocess
import time

from pyspark.sql import functions as F


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile).  Below twenty samples that percentile would fall
    under the median, so the maximum is returned as the 100th percentile."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    k = n - 11  # s[k] has exactly ten samples above it
    return s[k], 100.0 * (k + 1) / n


def latency(samples: list[float]) -> dict:
    """``op_latency_s`` (median) and ``op_tail_s`` of homogeneous samples."""
    return {"op_latency_s": statistics.median(samples), "op_tail_s": tail(samples)[0]}


def describe(name: str, samples: list[float], unit: str = "s") -> str:
    """One human-readable line about a timing sample set."""
    t, pct = tail(samples)
    return (
        f"# {name}: p50={statistics.median(samples):.4f}{unit} "
        f"p{pct:.1f}={t:.4f}{unit} n={len(samples)}"
    )


def start_spark(run_dir: str, master: str, event_log_dir: str | None = None):
    """Engine-default session (``session.get_spark``) whose scratch space,
    and event log when tracing, stay inside ``run_dir``."""
    from flink_cdc_log_connectors_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no JVM perf-counter file under /tmp: scratch stays in run_dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", master=master, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM PySpark launched for it, and wait for
    that process to end (it otherwise lingers until this process exits)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_up(spark) -> None:
    """First-job JIT and the Python worker pool, as a long-lived session
    has them already (the same warm-up ``bench.py`` does)."""
    import pandas as pd

    spark.range(1000).count()

    def _noop(s):
        return s

    # real annotations: this module postpones annotation evaluation
    _noop.__annotations__ = {"s": pd.Series, "return": pd.Series}

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 10, 1, cores).select(
        F.pandas_udf(_noop, "long")(F.col("id"))
    ).count()


class SizedInputs:
    """A workload's seed and its size table entry (``full`` or ``tiny``)."""

    def __init__(self, seed: int, size: dict) -> None:
        self.seed = seed
        self.size = size


class Clock:
    """Wall-clock deadline for the measured region."""

    def __init__(self, seconds: float) -> None:
        self.t0 = time.time()
        self.deadline = self.t0 + seconds

    def expired(self) -> bool:
        return time.time() >= self.deadline

    def elapsed(self) -> float:
        return time.time() - self.t0

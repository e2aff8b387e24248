"""Table loading helpers for the driver's synthetic parquet tables."""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@functools.lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanosecond
    timestamp type, so these are read as raw longs (nanosAsLong) and
    normalized to TIMESTAMP_NTZ at microsecond precision (same truncation
    DuckDB applies).  Footer-only inspection — no data read."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # directory-backed table (the normal layout outside the synthetic
        # single-file testdata): any one part file carries the schema.
        # Recurse — a hive-partitioned layout (key=.../part-*.parquet)
        # keeps its parts in subdirectories, and silently skipping the
        # coercion there would desync nanosecond handling from DuckDB.
        import glob

        parts = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            import warnings

            warnings.warn(
                f"no .parquet part found under {path}; "
                "nanosecond-timestamp detection skipped"
            )
            return ()
        path = parts[0]
    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if str(f.type).startswith("timestamp[ns")
    )


#: in-memory table cache (path → cached DataFrame), enabled by
#: ``cache_tables`` — the warehouse pattern of pinning hot dimension/fact
#: tables in executor memory across a query workload.
_TABLE_CACHE: dict[str, DataFrame] = {}


#: on-disk parquet bytes per partition of a pinned table (256 KB —
#: roughly 20-50k rows / a few MB deserialized per partition on this
#: corpus)
_CACHE_PART_BYTES = 256 << 10


def _cache_partitions(spark: SparkSession, path: str) -> int:
    """Partition count for a pinned table: one per
    ``_CACHE_PART_BYTES`` of on-disk parquet, capped at the session's
    core count.  The synthetic tables are single small files, so the
    scan-side split rules (``maxPartitionBytes``) leave them at ONE
    partition — every scan stage, including the Arrow/pandas text
    pipelines, then runs single-task no matter how many cores the
    session has (r13: profiled as the bottleneck of the
    document/compute-heavy queries).  Derived from data size and the
    session's parallelism, not a local-core constant."""
    try:
        size = (
            os.path.getsize(path)
            if os.path.isfile(path)
            else sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
        )
    except OSError:
        return 1
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(cores, -(-size // _CACHE_PART_BYTES)))


def cache_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Pin tables in memory (MEMORY_AND_DISK) for a multi-query workload.
    Subsequent ``load_table`` calls reuse the cached plans; queries keep
    identical semantics (cache is an execution detail).  Tables large
    enough to matter are re-split to :func:`_cache_partitions` partitions
    at pin time so cached scan stages can use the cluster (a one-time
    shuffle per table, amortized over the whole workload)."""
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if path not in _TABLE_CACHE:
            df = load_table(spark, sf_dir, name)
            n = _cache_partitions(spark, path)
            if n > df.rdd.getNumPartitions():
                df = df.repartition(n)
            df = df.cache()
            df.count()  # materialize
            _TABLE_CACHE[path] = df


def clear_table_cache() -> None:
    for df in _TABLE_CACHE.values():
        df.unpersist()
    _TABLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.  Plain parquet scan — Catalyst handles column
    pruning and predicate pushdown against it (check ``PushedFilters`` /
    ``ReadSchema`` in ``.explain("formatted")``)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    cached = _TABLE_CACHE.get(path)
    if cached is not None:
        return cached
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # Settable at runtime; the driver's own session may not carry it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        # Pure TIMESTAMP_NTZ arithmetic — independent of the session timezone.
        df = df.withColumn(
            c,
            F.expr(
                f"timestampadd(MICROSECOND, {c} div 1000, timestamp_ntz'1970-01-01 00:00:00')"
            ),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view for the SQL entry points."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

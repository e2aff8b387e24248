"""Central query registry: every operator the engine claims, with its oracle.

The driver contract (``__spark_entry__.py``) exposes ``queries()`` and
``oracle_sql()``; both are assembled from here.  An oracle of ``None`` means
the operator is not ANSI-SQL-expressible (the driver then records a weaker
rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def all_queries() -> dict[str, tuple[QueryFn, str | None]]:
    from .operators.relational import RELATIONAL_QUERIES
    from .operators.dedup import DEDUP_QUERIES
    from .operators.text import TEXT_QUERIES
    from .operators.similarity import SIMILARITY_QUERIES
    from .operators.multimodal import MULTIMODAL_QUERIES
    from .operators.temporal import TEMPORAL_QUERIES
    from .operators.hypertable import HYPERTABLE_QUERIES
    from .operators.graph import GRAPH_QUERIES
    from .operators.clustering import CLUSTERING_QUERIES
    from .operators.search import SEARCH_QUERIES
    from .operators.windows import WINDOW_QUERIES
    from .operators.bloomfilter import BLOOM_QUERIES
    from .operators.sketch import SKETCH_QUERIES
    from .operators.skew import SKEW_QUERIES
    from .operators.lifecycle import LIFECYCLE_QUERIES
    from .operators.curation import CURATION_QUERIES
    from .operators.lm import LM_QUERIES
    from .operators.replay import REPLAY_QUERIES

    return {
        **RELATIONAL_QUERIES,
        **DEDUP_QUERIES,
        **TEXT_QUERIES,
        **SIMILARITY_QUERIES,
        **MULTIMODAL_QUERIES,
        **TEMPORAL_QUERIES,
        **HYPERTABLE_QUERIES,
        **GRAPH_QUERIES,
        **CLUSTERING_QUERIES,
        **SEARCH_QUERIES,
        **WINDOW_QUERIES,
        **BLOOM_QUERIES,
        **SKETCH_QUERIES,
        **SKEW_QUERIES,
        **LIFECYCLE_QUERIES,
        **CURATION_QUERIES,
        **LM_QUERIES,
        **REPLAY_QUERIES,
    }

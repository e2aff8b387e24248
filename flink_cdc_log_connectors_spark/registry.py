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

    return _driver_window_order(
        {
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
    )


#: The driver's CORRECTNESS record holds a bounded window of rows (50 in
#: rounds 1-3) taken in REGISTRY ITERATION ORDER, so ordering controls
#: which entries get a durable on-the-record check each round.  Rotation
#: policy (VERDICT r3 What's-wrong #2): (a) entries that have NEVER had a
#: driver row on ANY round sort first — before anything new; (b) entries
#: whose CODE changed this round and must be re-proven; (c) entries new
#: this round; (d) refresh the stalest evidence — entries whose last
#: driver row is r1/r2 (50 of them; ~35 fit this window, the rest lead
#: category (d) next round).  The full registry is additionally covered
#: every round by the committed scripts/selfcheck.py run
#: (SELFCHECK_r{N}.json).
_DRIVER_WINDOW_PRIORITY = [
    # r13 rotation (optimization round 2): VERDICT r12 #10 + the standing
    # code-changed-first policy, with a staleness ledger computed from
    # CORRECTNESS_r1..r12 (per-entry last driver round).  Composition:
    # (d) the 6 displaced r8-band entries + ALL 37 r9-band entries — the
    #     complete staleness tail, so after this round no entry's driver
    #     evidence predates r10;
    # (b) sink_exactly_once_replay / ddl_sql_lifecycle /
    #     cdc_canal_roundtrip — their engine paths changed this round
    #     (ledger stored-schema; cdclog fixture layout + cached-scan
    #     splits) and their last rows are r10/r11;
    # (b) 4 of the 14 replay witnesses whose executed path changed most
    #     (fused parse + codegen-off scope + replay-swap heal):
    #     changelog_join_ttl_replay, ingest_dedup_window_replay,
    #     temporal_asof_replay, cep_stream_replay.  The other 10
    #     witnesses share those code paths, hold fresh r12 driver rows,
    #     and are covered by this round's committed full-registry
    #     SELFCHECK + driver_sim runs — the same budget trade r12 made.
    # 43 + 3 + 4 = 50 = the window.
    "q30_market_share",
    "q31_top_supplier",
    "q32_large_volume_customer",
    "q33_small_qty_revenue",
    "q34_sales_opportunity",
    "range_join_events",
    "agg_heavy_hitters",
    "agg_kmv_distinct",
    "agg_salted_hotkey",
    "ann_ivf_pq",
    "ann_ivf_recall",
    "bpe_merge_candidates",
    "cdc_asof_join",
    "cdc_parse_throughput",
    "cdc_scd2_history",
    "corpus_importance_sample",
    "corpus_mix_weights",
    "corpus_quality_filter",
    "corpus_snapshot_diff",
    "lm_sequence_pack",
    "q15_op_breakdown",
    "q16_tumbling_window",
    "q17_json_extract",
    "q18_correlated_subquery",
    "q19_pivot",
    "q20_percentiles",
    "q21_token_freq",
    "q22_grouping_sets",
    "q23_shipping_priority",
    "q35_order_priority_check",
    "q36_shipmode_priority",
    "q37_waiting_suppliers",
    "q38_disjunctive_revenue",
    "q39_nation_profit",
    "simsearch_int8_pairs",
    "simsearch_lsh_cosine",
    "text_bpe_tokens",
    "text_decontaminate",
    "text_fingerprint",
    "text_lang_id",
    "text_rarity_quality",
    "text_token_stats",
    "text_winnow_fingerprint",
    "sink_exactly_once_replay",
    "ddl_sql_lifecycle",
    "cdc_canal_roundtrip",
    "changelog_join_ttl_replay",
    "ingest_dedup_window_replay",
    "temporal_asof_replay",
    "cep_stream_replay",
]




def _driver_window_order(
    out: dict[str, tuple[QueryFn, str | None]]
) -> dict[str, tuple[QueryFn, str | None]]:
    ordered: dict[str, tuple[QueryFn, str | None]] = {}
    for name in _DRIVER_WINDOW_PRIORITY:
        if name in out:
            ordered[name] = out[name]
    for name, v in out.items():
        if name not in ordered:
            ordered[name] = v
    return ordered

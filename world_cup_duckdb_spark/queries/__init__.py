"""Query registry: one entry per operator in SURVEY.md §2 (+ extensions).

Each entry pairs a Spark DataFrame implementation with the equivalent
ANSI/DuckDB SQL oracle. The driver (and our own tests/test_parity.py) runs
both on the same parquet tables and compares row count + schema +
order-insensitive value hash — the engine's primary correctness gate
(SURVEY.md §5).

Determinism rules every query follows:
- money/double aggregation goes through decimal (functions.dec) so results
  are independent of partition/accumulation order, then casts to double;
- oracle SQL casts aggregates to the Spark result types (BIGINT counts,
  DOUBLE money) so schemas line up;
- every computed column is aliased identically on both sides;
- rankings/limits always carry an explicit total tie-break order.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from world_cup_duckdb_spark import tracking


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, Query] = {}


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` whose lifetime is scoped to the current registry
    query: the cache entry is dropped when this thread's next registered
    query begins, instead of living for the whole session (an unpersisted
    relation still backing an uncollected plan just recomputes)."""
    df = df.persist()
    tracking.track_release(df.unpersist)
    return df


def release_tracked_persists() -> None:
    """Run and clear this thread's release list: unpersist its tracked
    intermediates and free the checkpoint blocks and other state the
    DataFrame API can't drop (see tracking.py)."""
    tracking.release_all()


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the
    registry, optionally with its DuckDB oracle SQL. Entry into any
    registered query releases the state this thread's PREVIOUS query
    tracked, bounding cache accumulation to one query's working set."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked_persists()
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name, wrapped, oracle, (fn.__doc__ or "").strip())
        return wrapped

    return deco


def _green_correctness_rows() -> frozenset[str]:
    """Keys with a green (hash_match=true) row in any committed
    CORRECTNESS_r*.json at the repo root. Read at import so the rotation
    is SELF-maintaining: the moment a round's correctness file lands in
    the repo, its green keys demote behind the still-unverified ones at
    the next import — no hand-edited set to forget. Failed/erred rows
    (hash_match false or null) deliberately do NOT count: those keys stay
    at the front until a green row exists."""
    import glob as _glob
    import json as _json
    import os as _os

    root = _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )
    green: set[str] = set()
    for path in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue
        green.update(
            k
            for k, v in rows.items()
            if isinstance(v, dict) and v.get("hash_match") is True
        )
    return frozenset(green)


# Static floor: every registry key green across CORRECTNESS_r01/r02/r03/r05
# as of round 6 — kept as a literal so a checkout WITHOUT the correctness
# files (fresh clone, driver sandbox) still orders correctly. The live
# set below unions this with whatever newer files record.
# NOTE: membership requires a green row, not merely a sampled row — r3's
# set was built from sampled keys and silently retired ext_ivm_join, whose
# only driver row (r1) was a hash MISMATCH (decimal-vs-float pandas bridge,
# fixed in round 4 by casting the output to double; green in r5).
_VERIFIED_FLOOR: frozenset[str] = frozenset({
    # round-5 greens (CORRECTNESS_r05.json: 50/50 hash_match)
    "ext_ivm_join", "ext_feature_hash", "ext_mm_features",
    "ext_pii_redact", "ext_url_filter", "ext_ann_bruteforce_np",
    "op10b_export_csv", "op36b_replace_first",
    "sql_pricing_summary", "sql_shipping_priority", "sql_local_supplier_volume",
    "sql_revenue_change", "sql_big_spenders", "sql_order_priority_check",
    "sql_customers_without_orders", "sql_grouping_sets", "sql_hypertable_rollup",
    "sql_monthly_volume", "sql_nation_volume", "sql_order_count_distribution",
    "sql_top_supplier", "sql_small_quantity_revenue", "sql_large_orders",
    "sql_rolling_7day", "sql_balance_rank", "sql_min_price_supplier",
    "sql_market_share", "sql_nation_profit", "sql_returned_items",
    "sql_priority_linestatus", "sql_promo_revenue_ratio", "sql_supplier_part_counts",
    "sql_disjunctive_parts", "sql_top_part_suppliers", "sql_sole_returner",
    "sql_idle_customers", "sql_nation_set_ops", "sql_first_last_window",
    "sql_recursive_calendar", "sql_lateral_topk", "sql_group_by_all",
    "sql_bag_set_ops", "sql_filter_clause", "sql_important_parts",
    "sql_percent_of_total", "sql_cube", "sql_pipe_syntax",
    "sql_parameterized", "sql_listagg", "sql_scalar_correlated",
    # rounds 1-3 greens
    "ext_ann_bruteforce", "ext_ann_ivf", "ext_ann_lsh",
    "ext_ann_recall", "ext_bigram_topk", "ext_bm25",
    "ext_chunk_documents", "ext_contamination", "ext_corpus_mix",
    "ext_corrupt_json", "ext_dedup_clusters", "ext_dedup_exact",
    "ext_dedup_incremental", "ext_dedup_minhash", "ext_dedup_ngram_jaccard",
    "ext_dedup_simhash", "ext_deterministic_sample", "ext_embedding_centroids",
    "ext_embedding_neardup", "ext_embedding_quantize", "ext_fingerprint",
    "ext_fit_pandas", "ext_fuzzy_join", "ext_hll_sketch_union",
    "ext_jaccard_prefix_join", "ext_kfold_split", "ext_lang_id",
    "ext_lm_score", "ext_merge_upsert", "ext_metadata_columns",
    "ext_minhash_accuracy", "ext_mm_decode", "ext_mm_decode_real",
    "ext_mm_frames", "ext_mm_metadata", "ext_mm_resize",
    "ext_pack_sequences", "ext_python_datasource", "ext_quality_filter_pipeline",
    "ext_quality_score", "ext_quantiles", "ext_repetition",
    "ext_schema_evolution", "ext_sessionize_batch", "ext_stratified_sample",
    "ext_stream_dedup", "ext_stream_enrich", "ext_stream_session",
    "ext_stream_sliding", "ext_stream_stream_join", "ext_stream_tumbling",
    "ext_substring_dedup", "ext_table_diff", "ext_tfidf",
    "ext_time_travel", "ext_token_count", "ext_upsert_latest",
    "ext_vector_norm", "ext_vocab_growth", "ext_vocab_topk",
    "ext_window_distribution", "ext_zone_map_pruning", "flagship",
    "op01_remote_fetch_cache", "op02_scan_project", "op02b_csv_scan",
    "op02c_json_scan", "op02d_orc_scan", "op03_date_parse",
    "op04_literal_table", "op05_lazy_plan", "op06_ddl_create",
    "op07_insert_select", "op08_catalog_introspection", "op09_preview_limit",
    "op10_export_database", "op11_schema_report", "op12_project_compute",
    "op13_alias", "op14_rename", "op15_drop",
    "op16_with_column", "op17_filter_eq", "op18_when_chain",
    "op19_isin", "op20_null_test", "op21_contains",
    "op22_endswith", "op23_join_broadcast", "op24_join_dim",
    "op25_join_diff_keys", "op26_join_composite", "op27_left_join_flag",
    "op28_self_join", "op29_join_renamed_dim", "op30_distinct",
    "op31_diagonal_union", "op32_unpivot", "op33_surrogate_key",
    "op34_fk_orphans", "op35_concat_key", "op36_replace",
    "op37_capitalize", "op38_singularize", "op39_timestamp_parse",
    "op40_casts", "op41_arithmetic", "op42_contains_classifier",
    "op43_hash_agg", "op44_distinct_agg", "op45_rank_window",
    "op46_analytic_window", "op47_topk", "op48_sort",
    "op49_rollup", "op50_pk_duplicates", "op51_notnull_pk",
    "wc_build_manifest",
})

#: The live demotion set: static floor ∪ green rows from every committed
#: correctness file. Keys here go to the TAIL of the driver-facing order.
DRIVER_VERIFIED: frozenset[str] = _VERIFIED_FLOOR | _green_correctness_rows()


#: Registry keys deliberately kept OUT of the driver-facing queries()
#: export. ``ext_bpe_merges_scaled`` is the production (approx-batched)
#: BPE trainer: its output is order-of-merges dependent in a way no
#: DuckDB oracle can express, so a driver sample can only ever record
#: the weaker rows-only ``no_oracle`` row — and the self-retiring
#: rotation would re-burn one of the ~50 driver samples on it every
#: round forever (VERDICT r6 item 2). Its evidence class lives in
#: pytest instead: the batched-vs-sequential parity fixtures and pass-
#: count bounds in tests/test_bpe.py, plus the oracled exact-mode keys
#: ``ext_bpe_merges`` / ``ext_bpe_encode`` (driver-green r6). The
#: function stays in REGISTRY so local parity harnesses and bench.py
#: can still run it by name.
DRIVER_EXCLUDED: frozenset[str] = frozenset({"ext_bpe_merges_scaled"})


def _ordered_names() -> list[str]:
    """Driver-facing key order. The round driver evaluates queries in dict
    order and stops after a fixed budget (~50 keys per round), so the order
    IS the coverage policy. Round-7 policy (VERDICT r6 item 1): the 46
    keys that have never appeared in any committed correctness file are
    pinned EXPLICITLY — not left to registration order — so the one
    remaining 50-key window closes the evidence gap (263/263 oracled keys
    driver-green). Any round-7 additions register BEHIND this head. The
    pinned head is rotation-aware (keys demote once a committed
    correctness file records them green), so this list self-retires."""
    round7_head = [
        # The complete never-driver-sampled set as of CORRECTNESS_r06
        # (46 keys, all oracled). Order: headline bench query first, then
        # the 100 TB scale toolkit (surrogate keys, skew, layout), the
        # sql_* dialect forms, and the analytics tail.
        "ext_bloom_semijoin",
        "ext_surrogate_key_scalable",
        "ext_salted_join", "ext_salted_agg", "ext_skew_profile",
        "ext_zorder_layout", "ext_partitioned_layout",
        "ext_bucketed_join", "ext_compaction",
        "ext_token_budget_select",
        "ext_null_safe_join", "ext_pivot_wide",
        "sql_qualify", "sql_distinct_on", "sql_star_exclude_replace",
        "sql_values_inline", "sql_natural_join", "sql_ilike",
        "sql_try_cast", "sql_generate_series", "sql_list_comprehension",
        "sql_ntile",
        "ext_systematic_sample", "ext_priority_sample",
        "ext_funnel_click_purchase", "ext_funnel_strict3",
        "ext_cohort_retention", "ext_top_paths", "ext_ab_test",
        "ext_json_extract", "ext_variant_json",
        "ext_cusum", "ext_entropy", "ext_hhi_concentration",
        "ext_time_weighted_avg", "ext_regr_per_group",
        "ext_rollup_hypertable", "ext_grouping_sets",
        "ext_transition_matrix", "ext_rfm", "ext_histogram",
        "ext_market_basket", "ext_calendar_dims",
        "ext_window_distinct_users", "ext_gap_fill_locf",
        "ext_seasonality",
    ]
    # Guard against silent priority demotion: every priority name must be a
    # real registry key (a rename upstream would otherwise quietly drop the
    # query from the driver-sampled head of the ordering). Raise — not
    # assert — so the guard survives `python -O`.
    missing = [n for n in round7_head if n not in REGISTRY]
    if missing:
        raise ValueError(f"ordering names not in REGISTRY: {missing}")
    # The pinned head is itself rotation-aware: once a pinned key gets a
    # green correctness row (next round's committed file), it demotes with
    # everything else instead of hogging the sample window forever.
    ordered: list[str] = [n for n in round7_head if n not in DRIVER_VERIFIED]
    # Remaining never-driver-verified keys, registration order.
    ordered += [
        n for n in REGISTRY
        if n not in DRIVER_VERIFIED and n not in ordered
    ]
    # Verified-tail rotation (VERDICT r10 item 7): the driver re-samples
    # the HEAD of this order every round, and with the verified tail
    # left at registration order the same analytics/core/lifecycle
    # block would re-burn its ~50-key window forever while the oldest
    # evidence staled. Pin the STALEST-verified block first among
    # verified keys. Round 13 (VERDICT r12 item 8) rotates in, by
    # recomputed staleness (latest green row per key across
    # CORRECTNESS_r1..r12): the r12 window re-verified the r1/r3-era
    # dedup/ANN/text block, so the stalest evidence is now the r3-era
    # streaming/multimodal/fit tail that overflowed the r12 window,
    # then the r5-era sql_* dialect block (47 keys, none re-sampled
    # since round 5). More stale keys exist than one ~50-key window
    # holds; the r5 overflow tails into the r14 rotation.
    rotation_block = [
        # latest green: r3 — the r12-window overflow
        "ext_fit_pandas", "ext_hll_sketch_union", "ext_mm_decode",
        "ext_mm_decode_real", "ext_mm_frames", "ext_mm_metadata",
        "ext_mm_resize", "ext_pack_sequences",
        "ext_quality_filter_pipeline", "ext_stream_dedup",
        "ext_stream_enrich", "ext_stream_session", "ext_stream_sliding",
        "ext_stream_stream_join", "ext_stream_tumbling",
        "wc_build_manifest",
        # latest green: r5 — the sql_* dialect block + r5 extension keys
        "ext_ann_bruteforce_np", "ext_feature_hash", "ext_mm_features",
        "ext_pii_redact", "ext_url_filter",
        "sql_bag_set_ops", "sql_balance_rank", "sql_big_spenders",
        "sql_cube", "sql_customers_without_orders",
        "sql_disjunctive_parts", "sql_filter_clause",
        "sql_first_last_window", "sql_group_by_all", "sql_grouping_sets",
        "sql_hypertable_rollup", "sql_idle_customers",
        "sql_important_parts", "sql_large_orders", "sql_lateral_topk",
        "sql_listagg", "sql_local_supplier_volume", "sql_market_share",
        "sql_min_price_supplier", "sql_monthly_volume",
        "sql_nation_profit", "sql_nation_set_ops", "sql_nation_volume",
        "sql_order_count_distribution", "sql_order_priority_check",
        "sql_parameterized", "sql_percent_of_total", "sql_pipe_syntax",
        "sql_pricing_summary", "sql_priority_linestatus",
        "sql_promo_revenue_ratio", "sql_recursive_calendar",
        "sql_returned_items", "sql_revenue_change", "sql_rolling_7day",
        "sql_scalar_correlated", "sql_shipping_priority",
        "sql_small_quantity_revenue", "sql_sole_returner",
        "sql_supplier_part_counts", "sql_top_part_suppliers",
        "sql_top_supplier",
    ]
    missing_rot = [n for n in rotation_block if n not in REGISTRY]
    if missing_rot:
        raise ValueError(f"rotation names not in REGISTRY: {missing_rot}")
    ordered += [n for n in rotation_block if n not in ordered]
    # Remaining driver-verified keys last (still present for local
    # parity).
    ordered += [n for n in REGISTRY if n not in ordered]
    if len(ordered) != len(REGISTRY):
        raise RuntimeError(
            f"ordering dropped keys: {len(ordered)} != {len(REGISTRY)}"
        )
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        n: REGISTRY[n].fn
        for n in _ordered_names()
        if n not in DRIVER_EXCLUDED
    }


def oracle_sql() -> dict[str, str]:
    return {
        n: REGISTRY[n].oracle
        for n in _ordered_names()
        if REGISTRY[n].oracle is not None and n not in DRIVER_EXCLUDED
    }


# Populate the registry (import order = display order).
from world_cup_duckdb_spark.queries import (  # noqa: E402,F401
    analytics,
    constraints,
    core,
    csv_source,
    ext_advanced,
    ext_analytics2,
    ext_analytics3,
    ext_analytics4,
    ext_analytics5,
    ext_bpe,
    ext_dedup,
    ext_distributed,
    ext_events,
    ext_graph,
    ext_metrics,
    ext_multimodal,
    ext_optim,
    ext_pipeline,
    ext_regression,
    ext_retrieval,
    ext_rollups,
    ext_scale,
    ext_similarity,
    ext_stream,
    ext_text,
    ext_training,
    ext_training2,
    ext_training3,
    joins,
    lifecycle,
    reshape,
    scalars,
    sql_surface,
    sql_surface2,
    sql_surface3,
    sql_surface4,
    sql_surface5,
    wc_pipeline,
)

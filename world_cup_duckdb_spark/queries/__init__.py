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


#: Driver-facing head: the round driver evaluates queries() in dict order
#: and stops after a fixed budget (~50 keys per round), so this pinned
#: head IS the coverage policy. Every other key follows it in
#: registration order. Rotating the driver window means editing this
#: tuple; a name that is not registered raises KeyError at first export.
DRIVER_HEAD: tuple[str, ...] = (
    # streaming, multimodal and fit keys
    "ext_fit_pandas", "ext_hll_sketch_union", "ext_mm_decode",
    "ext_mm_decode_real", "ext_mm_frames", "ext_mm_metadata",
    "ext_mm_resize", "ext_pack_sequences",
    "ext_quality_filter_pipeline", "ext_stream_dedup",
    "ext_stream_enrich", "ext_stream_session", "ext_stream_sliding",
    "ext_stream_stream_join", "ext_stream_tumbling",
    "wc_build_manifest",
    # feature/filter extensions and the sql_* dialect block
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
)


def _exported_names() -> list[str]:
    """Driver-facing key order: DRIVER_HEAD, then every other key in
    registration order. Keys without an oracle are not exported: the
    driver could only record a rows-only row for them, and their
    evidence lives in pytest (e.g. ext_bpe_merges_scaled, checked by
    tests/test_bpe.py); they stay in REGISTRY for local harnesses."""
    pinned = set(DRIVER_HEAD)
    return list(DRIVER_HEAD) + [
        n for n, q in REGISTRY.items()
        if n not in pinned and q.oracle is not None
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: REGISTRY[n].fn for n in _exported_names()}


def oracle_sql() -> dict[str, str]:
    return {n: REGISTRY[n].oracle for n in _exported_names()}


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

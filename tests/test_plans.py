"""Physical-plan quality gates — the 100 TB design checks.

Correctness tests say the engine computes the right answer; these say it
computes it with the plan you'd want on a 1000-executor cluster:
projection/predicate pushdown into the parquet scan, broadcast joins for
bounded dims, TakeOrderedAndProject for top-k, no Python (BatchEvalPython)
in any reference-surface plan.
"""

from __future__ import annotations

import pytest

from world_cup_duckdb_spark.queries import REGISTRY


@pytest.fixture(autouse=True)
def _cold_plans(spark):
    """Pin plan shapes against the COLD plan. Queries that persist()
    shared relations (LSH bands, bm25 per-doc stats, lm_score tf) leave
    session-cache entries that substitute InMemoryRelation into any later
    query with a semantically identical subplan — same rows, different
    plan text, so pinned shapes become suite-order-dependent without
    this."""
    spark.catalog.clearCache()


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def registry_walk(spark, sf_dir):
    """ONE shared cold walk of every registry query, for the whole-
    registry gates (VERDICT r10 item 6 — suite wall): each gate
    previously rebuilt all ~340 query plans itself, and stateful keys
    (IVF/minhash index builds, lakehouse snapshots) do real work at
    BUILD time, so every extra walk cost minutes. Plan text, the
    optimized-plan JVM node, and the output schema are extracted
    EAGERLY so later tests' cache clearing cannot perturb what a
    consumer sees. State matches the old per-test walks exactly: one
    clearCache, then every query built in registry order."""
    spark.catalog.clearCache()
    out = {}
    for name in REGISTRY:
        df = REGISTRY[name].fn(spark, sf_dir)
        out[name] = (
            plan(df),
            df._jdf.queryExecution().optimizedPlan(),
            df.schema,
        )
    return out


def test_scan_projection_pushdown(spark, sf_dir):
    df = REGISTRY["op02_scan_project"].fn(spark, sf_dir)
    p = plan(df)
    # Only the three selected columns reach the reader...
    assert "l_orderkey" in p and "l_quantity" in p
    assert "l_extendedprice" not in p and "l_shipdate" not in p
    # ...and the filter is pushed to parquet.
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in p


def test_filter_pushdown_eq(spark, sf_dir):
    p = plan(REGISTRY["op17_filter_eq"].fn(spark, sf_dir))
    assert "EqualTo(o_orderstatus,F)" in p


def test_flagship_broadcasts_bounded_dims_only(spark, sf_dir):
    """flagship forces broadcast ONLY on the bounded dims (nation,
    region — 25/5 rows at any SF); customer and orders are plain joins
    Catalyst/AQE sizes (broadcast at bench SF, shuffle at scale). The r8
    2-job SHUFFLE_HASH variant was A/B'd and REVERTED — its fact-grain
    custkey exchange cost more than the broadcast-build jobs it saved
    (see the flagship docstring + BASELINE.md r8) — so this pin also
    guards against re-introducing that shape without re-measuring."""
    p = plan(REGISTRY["flagship"].fn(spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert tree.count("BroadcastHashJoin") >= 2, p
    # the fact side must never force-broadcast via literal hints: the
    # two forced broadcasts are the dim scans (nation/region only)
    assert "ShuffledHashJoin" not in tree, p


def test_flagship_preaggregates_fact_below_joins(spark, sf_dir):
    """The scale claims the flagship docstring makes, pinned to the plan:
    (a) lineitem is reduced per orderkey BEFORE any join — the partial/
    final HashAggregate pair sits below the first join in the tree, so
    the biggest fact collapses ~4x before a row crosses a join; (b) the
    revenue_rank <= 3 filter is pushed INTO the window as a
    WindowGroupLimit, so the rank never materializes beyond k per group."""
    p = plan(REGISTRY["flagship"].fn(spark, sf_dir))
    # Formatted plans number operators bottom-up: (1) is the deepest node.
    # The deepest chain must be scan(lineitem) → filter → partial
    # HashAggregate keyed by l_orderkey — i.e. the fact reduces before it
    # reaches ANY join.
    scan1 = p.split("(1) Scan parquet")[1].split("(2)")[0]
    assert "lineitem.parquet" in scan1, p
    agg3 = p.split("(3) HashAggregate")[1].split("(4)")[0]
    assert "Keys [1]: [l_orderkey" in agg3 and "partial_sum" in agg3, p
    assert "WindowGroupLimit" in p, p


def test_topk_is_take_ordered(spark, sf_dir):
    p = plan(REGISTRY["op47_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_micro_query_stage_floor_is_pinned(spark, sf_dir):
    """The three micro queries whose DuckDB-ratio VERDICT flags (op45 ~27x,
    op47 ~5.9x, op49 ~31x at sf0.1) are already at their minimal shuffle
    shape — this pin records that, making the residual a documented
    scheduling-floor fact rather than an unexamined regression. Measured
    (r4, local[32], warm cache): exec ~0.19/0.21/0.26 s respectively with
    plan-build ~0.06-0.09 s — i.e. 2-3 stage launches at Spark's
    ~0.1 s/stage local floor, while each DuckDB twin finishes in ~10 ms.
    Partition-count levers (shuffle=1, parallelismFirst=false) were A/B'd
    and change nothing: the cost is stage launch + codegen, not data.
    At the 100 TB design point the same plans amortize those 2-3 stages
    over real work — the flagged ratio is a small-input artifact.

    Pins: op45 = scan → ONE exchange (partitionBy key) → window with
    WindowGroupLimit (rank filter truncates to k per group during sort);
    op47 = ONE exchange (partial-combined agg) + TakeOrderedAndProject
    (never a global sort); op49 (r8 rework) = customer pre-aggregated to
    nation grain below every join, dims attached as SHUFFLE_HASH joins
    (tiny in-job exchanges, no broadcast-build jobs — 3 jobs → 1), the
    rollup Expand running over the ≤|nations| relation only."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p45 = plan(REGISTRY["op45_rank_window"].fn(spark, sf_dir))
        p47 = plan(REGISTRY["op47_topk"].fn(spark, sf_dir))
        p49 = plan(REGISTRY["op49_rollup"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    t45 = p45.split("(1) Scan")[0]
    assert t45.count("Exchange") == 1, p45
    assert "WindowGroupLimit" in p45, p45
    t47 = p47.split("(1) Scan")[0]
    assert t47.count("Exchange") == 1, p47
    assert "TakeOrderedAndProject" in p47 and "partial" in p47, p47
    t49 = p49.split("(1) Scan")[0]
    assert "Expand" in p49, p49
    # no broadcast-build jobs: both dims are shuffle-hash joins
    assert t49.count("BroadcastExchange") == 0, p49
    assert t49.count("ShuffledHashJoin") == 2, p49
    # customer reduces to nation grain BELOW every join: the deepest
    # chain is scan(customer) → partial HashAggregate on c_nationkey
    scan1_49 = p49.split("(1) Scan parquet")[1].split("(2)")[0]
    assert "customer.parquet" in scan1_49, p49
    assert "Keys [1]: [c_nationkey" in p49, p49


def test_no_python_udf_on_reference_surface(registry_walk):
    # Engine policy (SURVEY.md §2.8): zero Python UDFs for reference ops.
    reference_keys = [n for n in REGISTRY if n.startswith("op") or n == "flagship"]
    for name in reference_keys:
        p = registry_walk[name][0]
        assert "BatchEvalPython" not in p, f"{name} uses a row-at-a-time Python UDF"


def test_whole_stage_codegen_on_agg(spark, sf_dir):
    # AQE wraps the plan pre-execution and hides codegen spans; disable it
    # for the inspection so the static plan shows them.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["op43_hash_agg"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Formatted explain marks whole-stage-codegen membership per operator.
    assert "[codegen id :" in p
    # Two-level overflow-safe shape (see queries/analytics.py:op43): long
    # partial sums map-side over fact rows, exchange one row per
    # (group, partition) — the SAME shuffle volume plain partial
    # aggregation would send — then a decimal merge of the tiny partials
    # behind a second, group-cardinality exchange.
    assert "partial_sum" in p
    tree = p.split("(1) Scan")[0]
    assert tree.count("HashAggregate") == 4
    assert tree.count("Exchange") == 2
    # The fact-volume pass must keep primitive long buffers; decimal may
    # appear only after the first exchange (merge of partials).
    first_stage = p.split("(5) Exchange")[0]
    assert "decimal" not in first_stage.split("(3) Project")[-1]


def test_sessionize_single_exchange(spark, sf_dir):
    # Both window passes and the per-session aggregate reuse the one
    # user_id shuffle — cost is a single exchange of the events table.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_sessionize_batch"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, p


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    # Top-k over exploded tokens must not globally sort the vocabulary.
    p = plan(REGISTRY["ext_vocab_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    # The explode feeds a partial aggregate — shuffle volume is
    # vocabulary-sized, not corpus-sized.
    assert "partial_count" in p or "partial" in p, p


def test_pivot_two_phase_agg_shape(spark, sf_dir):
    # Declared pivot values skip the distinct-values pre-job entirely
    # (that job runs at DataFrame-construction time and would not even
    # appear in this plan). Spark plans pivot as two aggregates — the
    # (key, pivot-col) rollup, then PivotFirst over the key — so two
    # exchanges appear, but BOTH carry aggregate-reduced rows (at most
    # |priorities × statuses|): the map-side partial combine on the first
    # aggregate has already collapsed the fact table.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_pivot_wide"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 2, p
    assert "partial" in p, p
    assert "pivotfirst" in p.lower() or "PivotFirst" in p, p


def test_bigram_topk_single_exchange(spark, sf_dir):
    # zip_with builds bigrams per-row: the only exchange is the
    # count-by-bigram aggregate (already partial-combined), and top-k is
    # TakeOrderedAndProject, not a global sort.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_bigram_topk"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, p
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p  # no LEAD-window shuffle-by-doc


def test_stream_enrich_batch_twin_broadcasts_dim(spark, sf_dir):
    # The enrichment dim must be broadcast — no shuffle of the event
    # stream for the join (the windowed agg's exchange is the only one).
    p = plan(REGISTRY["ext_stream_enrich"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p


def test_json_extract_stays_jvm_side(spark, sf_dir):
    # from_json is Jackson-in-codegen, not Python.
    p = plan(REGISTRY["ext_json_extract"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p, p
    assert "from_json" in p, p


def test_hypertable_rollup_cascade_shape(spark, sf_dir):
    # Two aggregates (hour grain, then day FROM hour): two exchanges, but
    # the second carries hourly partials (|hours × types| rows), never the
    # fact table — the incremental-maintenance property.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_rollup_hypertable"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 2, p
    assert "partial" in p, p  # map-side combine on the hour grain
    # events is scanned exactly once
    assert tree.count("Scan parquet") == 1, p


def test_grouping_sets_single_scan_expand(spark, sf_dir):
    # GROUPING SETS plans as Expand → one partial+final hash aggregate:
    # orders scanned once, one exchange of aggregate-reduced rows.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_grouping_sets"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert "Expand" in p, p
    assert tree.count("Exchange") == 1, p
    assert tree.count("Scan parquet") == 1, p
    assert "partial" in p, p


def test_transition_matrix_single_fact_scan(spark, sf_dir):
    # LEAD window shuffles events once by user_id; the count + probability
    # window then operate on |types|²-sized data. One scan of the facts,
    # no Python.
    p = plan(REGISTRY["ext_transition_matrix"].fn(spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 1, p
    assert "BatchEvalPython" not in p, p


def test_histogram_single_exchange(spark, sf_dir):
    # Bucket arithmetic runs inside the scan stage; the only exchange is
    # the aggregate's, already partial-combined.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_histogram"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, p
    assert "partial" in p, p


def test_chunking_is_map_only(spark, sf_dir):
    # Explode-based chunking runs entirely inside the scan stage: no
    # exchange, no Python, a Generate node doing the window expansion.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_chunk_documents"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 0, p
    assert "Generate" in p, p
    assert "BatchEvalPython" not in p, p


def test_packing_single_exchange(spark, sf_dir):
    # The cumsum window shuffles on source; the (source, pack_id) aggregate
    # is satisfied by that same hash partitioning (subset-of-keys rule), so
    # no second exchange appears.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_pack_sequences"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, p
    assert "Window" in p, p


def test_corpus_mix_is_map_only(spark, sf_dir):
    # Deterministic weighted mixing is a pure scan-stage transform:
    # hash-coin, CASE, explode — zero exchanges, zero Python.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_corpus_mix"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 0, p
    assert "Generate" in p, p
    assert "BatchEvalPython" not in p, p


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    # The dominant (train) shingle stream must reach the join without an
    # exchange: its dedup happens after the broadcast probe, on hits only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_contamination"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "BroadcastHashJoin" in p, p
    # Shuffle exchanges: eval-side distinct, hit-set distinct, final agg —
    # never a fourth for the raw train shingles.
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange hashpartitioning") <= 3, p


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    # rn<=3 must push into the window as WindowGroupLimit: each partition
    # keeps k rows per group during the sort, never the full group.
    p = plan(REGISTRY["ext_topk_per_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p, p


def test_mode_per_group_two_reduced_exchanges(spark, sf_dir):
    # Count agg partial-combines map-side; the rank window's exchange
    # carries only |segments × nations| aggregate-reduced rows.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_mode_per_group"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert "partial" in p, p
    assert tree.count("Exchange") == 2, p


def test_skew_profile_takeordered_broadcast(spark, sf_dir):
    # Top-10 keys via TakeOrderedAndProject; the 1-row totals side is
    # broadcast (BroadcastNestedLoopJoin for the keyless cross join) —
    # never a shuffle of the per-key counts against totals.
    p = plan(REGISTRY["ext_skew_profile"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_regr_aggregates_stay_jvm_side(spark, sf_dir):
    # REGR_* are algebraic aggregates: partial-combined, no Python.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(REGISTRY["ext_regr_per_group"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    tree = p.split("(1) Scan")[0]
    assert "BatchEvalPython" not in p, p
    assert tree.count("Exchange") == 1, p
    assert "partial" in p, p


def test_fit_pandas_is_arrow_group_map(spark, sf_dir):
    # The escape hatch runs as FlatMapGroupsInPandas (Arrow), not
    # row-at-a-time Python.
    p = plan(REGISTRY["ext_fit_pandas"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in p, p
    assert "BatchEvalPython" not in p, p


def test_repetition_stays_codegen_no_python(spark, sf_dir):
    # Trigram generation is a higher-order transform (map-side, no
    # Python); grouping keys are content-derived (uniform).
    p = plan(REGISTRY["ext_repetition"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p


def test_variant_json_jvm_side(spark, sf_dir):
    # parse_json/variant_get run inside codegen — no Python workers.
    p = plan(REGISTRY["ext_variant_json"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p, p
    assert "variant" in p.lower(), p


def test_pipe_syntax_same_plan_as_nested(spark, sf_dir):
    # The |> pipeline is parser sugar: same optimized physical shape as
    # the equivalent nested SQL — pushed filters + partial aggregation.
    p = plan(REGISTRY["sql_pipe_syntax"].fn(spark, sf_dir))
    assert "PushedFilters" in p, p
    assert "partial" in p, p


def test_udtf_is_arrow_lateral(spark, sf_dir):
    # The UDTF demo runs arrow-batched, not row-at-a-time pickling.
    p = plan(REGISTRY["ext_udtf_ngrams"].fn(spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in p or "BatchEvalPythonUDTF" in p, p


def test_substring_dedup_two_fact_exchanges(spark, sf_dir):
    # Span generation is map-side; the only fact-sized exchanges are the
    # per-gram distinct-doc count and the gram join back; the final
    # doc_id rollup rides the smaller side.
    p = plan(REGISTRY["ext_substring_dedup"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p, p
    assert "transform(sequence" in p or "transform" in p, p


def test_pagerank_broadcasts_dims_on_edge_extract(spark, sf_dir):
    # customer/supplier/nation are broadcast; the tiny iterated graph
    # never forces a fact-sized shuffle per iteration.
    p = plan(REGISTRY["ext_pagerank"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "BatchEvalPython" not in p, p


def test_prefix_jaccard_join_has_no_nested_loop(spark, sf_dir):
    # The whole point of prefix filtering: candidate generation is an
    # equi-join on the inverted prefix index — the quadratic
    # BroadcastNestedLoopJoin of the naive formulation must not appear.
    p = plan(REGISTRY["ext_jaccard_prefix_join"].fn(spark, sf_dir))
    assert "NestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_cusum_reduces_before_group_map(spark, sf_dir):
    # The sequential scan runs as Arrow group-map (FlatMapGroupsInPandas)
    # AFTER the fact scan has been reduced to hourly aggregates — the
    # hash aggregate must sit below the Python node.
    p = plan(REGISTRY["ext_cusum"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in p, p
    assert "BatchEvalPython" not in p, p
    assert p.index("HashAggregate") > p.index("FlatMapGroupsInPandas"), (
        "aggregate should be below (planned before) the group-map in the tree"
    )


def test_join_strategy_hints_are_honored(spark, sf_dir):
    # The engine exposes Spark's join-strategy control surface: the same
    # logical join planned as broadcast-hash by default (small dim) can
    # be forced to shuffle-merge with a hint — the knob for when a
    # "small" side isn't (skew, memory pressure, 100x growth).
    from world_cup_duckdb_spark.sources.catalog import load_tables

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_quantity")
    o = t["orders"].select("o_orderkey", "o_orderpriority")
    default_plan = plan(li.join(o, li.l_orderkey == o.o_orderkey))
    hinted_plan = plan(
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    )
    assert "BroadcastHashJoin" in default_plan, default_plan
    assert "SortMergeJoin" in hinted_plan, hinted_plan


def test_bucketed_join_query_has_no_join_exchange(spark, sf_dir):
    """ext_bucketed_join's sort-merge join must consume the bucketed
    layout directly: no Exchange and no Sort between the table scans and
    the join — the only exchange in the plan belongs to the final
    aggregate. Asserted on the LAZY plan via bucketed_join_plan: the
    registry query checkpoints the (tiny) result so it can drop its
    catalog tables, which hides the join plan behind an RDD scan."""
    import re
    import shutil
    import uuid

    from world_cup_duckdb_spark.queries.ext_scale import bucketed_join_plan

    tag = uuid.uuid4().hex[:12]
    df, loc = bucketed_join_plan(spark, sf_dir, tag)
    p = plan(df)
    spark.sql(f"DROP TABLE IF EXISTS bkt_lineitem_{tag}")
    spark.sql(f"DROP TABLE IF EXISTS bkt_orders_{tag}")
    shutil.rmtree(loc, ignore_errors=True)
    assert "SortMergeJoin" in p, p
    # Exactly one Exchange in the whole plan — the final aggregate's. The
    # join itself consumes the bucketed layout with no shuffle on either
    # side. (A within-task Sort remains below the join: Spark 3+ never
    # trusts bucket sort order without a legacy flag, SPARK-28595 — it is
    # exchange elimination that matters at scale.)
    n_exchange = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchange == 1, p
    assert "Bucketed: true" in p, p
    assert "SelectedBucketsCount: 4 out of 4" in p, p


def test_partitioned_layout_prunes_at_scan(spark, sf_dir):
    """ext_partitioned_layout's re-read must prune to the two matching
    hive partitions at the scan (PartitionFilters), and the partition
    column must NOT appear in the file ReadSchema — it comes from the
    directory layout, costing zero I/O."""
    df = REGISTRY["ext_partitioned_layout"].fn(spark, sf_dir)
    p = plan(df)
    pf = p.split("PartitionFilters: [")[1].split("]")[0]
    assert "IN (click,purchase)" in pf, p
    rs = p.split("ReadSchema: ")[1].split("\n")[0]
    assert "event_type" not in rs, p


def test_scalable_surrogate_key_has_no_fact_window(spark, sf_dir):
    """ext_surrogate_key_scalable must range-partition the data and index
    it in an Arrow map — the only Window in the plan runs over the
    per-partition counts (<= n_ranges rows), never over the data."""
    df = REGISTRY["ext_surrogate_key_scalable"].fn(spark, sf_dir)
    p = plan(df)
    tree = p.split("\n\n")[0]
    # The indexed intermediate is checkpointed (lineage truncated), so the
    # final plan reads it as Scan ExistingRDD — the range shuffle and the
    # Arrow MapInPandas already ran, exactly once, at build time.
    assert "Scan ExistingRDD" in tree, p
    # Exactly one Window, and it computes the running offset over the
    # per-partition counts — its subtree contains the _pid HashAggregate
    # and it feeds the BROADCAST side of the offsets join, so no window
    # function ever sees fact rows.
    assert tree.count("Window") == 1, p
    assert "BroadcastHashJoin" in tree, p
    win_detail = p.split(") Window")[1].split("\n\n")[0]
    assert "_pid" in win_detail, p


def test_no_antipatterns_anywhere_in_registry(registry_walk):
    """Whole-registry anti-pattern gate: NO query in the registry may
    plan a row-at-a-time Python eval (BatchEvalPython — Arrow paths show
    as ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas and are fine)
    or a non-broadcast CartesianProduct (broadcast nested-loop joins of
    1-row aggregates are fine and show as BroadcastNestedLoopJoin).
    Covers the extension surface, not just the reference ops.

    Also gates every registered OUTPUT SCHEMA to driver-hashable scalar
    cells: no array/map/struct/binary (the harness canonicalizes with
    pandas sort_values, which raises on unhashable cells —
    CORRECTNESS_r03) and no decimal (Spark's pandas bridge emits
    Decimal('x.x0') where DuckDB's emits a float for the same value — the
    r1 ext_ivm_join hash miss). Array-shaped APIs stay available as
    unregistered twins (feature_hash_vector, mm_feature_counts_vector)."""
    offenders = []
    for name, (p, _opt, schema) in registry_walk.items():
        for bad in ("BatchEvalPython", "CartesianProduct"):
            if bad in p:
                offenders.append((name, bad))
        for field in schema.fields:
            t = field.dataType.simpleString()
            if t.startswith(("array", "map", "struct", "binary", "decimal")):
                offenders.append((name, f"unhashable output {field.name}: {t}"))
    assert offenders == [], offenders


def test_hdr_sketch_aggregates_map_side_before_exchange(spark, sf_dir):
    """The HDR quantile sketch's scale claim, pinned to the plan: bucket
    counts combine map-side (partial_count below the exchange), so a
    group's shuffled state is O(buckets), not O(rows) — and the window
    extraction runs above that reduction, never over fact rows."""
    p = plan(REGISTRY["ext_hdr_quantiles"].fn(spark, sf_dir))
    # partial aggregation keyed by (group, bucket) feeds the exchange:
    # the partial_count block and a bucket-keyed hashpartitioning both
    # exist, so what shuffles is bucket counts, not fact rows.
    assert "partial_count" in p, p
    assert "hashpartitioning(l_returnflag" in p and "_sub" in p, p
    # extraction windows exist above that reduction
    assert "Window" in p, p
    # and the scan reads only the two needed columns
    assert "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" in p, p


def test_dedup_minhash_pair_join_is_shuffled_hash_on_shared_exchange(
    spark, sf_dir
):
    """The r12 pair-join rework: both sides of the LSH bucket self-join
    are the same band relation already hash-partitioned by
    (band, band_key) from the cap window's exchange, so the join must
    plan as a ShuffledHashJoin whose second side is a ReusedExchange —
    and NOT as the bench-scale default broadcast, which collected the
    entire capped band table to the driver per run (not a plan at
    corpus scale at all). (Exchange REUSE itself is asserted only
    implicitly: under the engine default AQE session it is a runtime
    decision invisible in the initial plan text; the committed bench
    capture plans/r12/ext_dedup_minhash_after.txt shows the
    ReusedExchange under the AQE-off bench posture.)"""
    p = plan(REGISTRY["ext_dedup_minhash"].fn(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "ShuffledHashJoin" in tree, p
    assert "BroadcastExchange" not in tree, p
    spark.catalog.clearCache()


def test_minhash_accuracy_reuses_one_signature_stage(spark, sf_dir):
    """The calibration query's cost claim: signatures and shingle sets
    are persisted once and every consumer (both band self-join sides,
    both signature join sides, both shingle join sides) reads the cache
    — six InMemoryTableScans, so no shingle md5 hashing is re-planned
    per join side."""
    df = REGISTRY["ext_minhash_accuracy"].fn(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("InMemoryTableScan") == 6, phys


def test_tfidf_is_one_linear_pipeline(spark, sf_dir):
    """The window-form tfidf (r3 rework): ONE plan with exactly the two
    shuffles the algorithm needs — (doc,token) for tf, token for df —
    no checkpointed side (Scan ExistingRDD), no BatchEvalPython, and the
    corpus-count side rides along as a broadcast."""
    p = plan(REGISTRY["ext_tfidf"].fn(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "Scan ExistingRDD" not in tree, p
    assert "BatchEvalPython" not in p, p
    assert "Window" in tree, p
    # The FACT pipeline (everything above the broadcast build of the
    # 1-row corpus count) holds exactly the algorithm's two shuffles:
    # by (doc,token) for tf, by token for the df window. The broadcast
    # side's own exchanges move countDistinct partials — one row per
    # partition, never corpus data.
    fact_branch = tree.split("BroadcastExchange")[0]
    assert fact_branch.count("Exchange") == 2, p
    assert "BroadcastNestedLoopJoin" in tree, p


@pytest.mark.parametrize(
    "name",
    [
        "ext_lang_id",
        "ext_quality_score",
        "ext_quality_filter_pipeline",
        "ext_token_count",
        "ext_fingerprint",
    ],
)
def test_text_queries_split_text_exactly_once(spark, sf_dir, name):
    """Staged projections pin split(text) to one evaluation per row —
    higher-order functions are outside codegen subexpression elimination
    (SPARK-35410), so an unstaged plan re-splits per score reference."""
    df = REGISTRY[name].fn(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(") == 1, optimized


def test_repetition_two_corpus_passes_no_inferred_split_filter(spark, sf_dir):
    """Token and trigram profiles are the ONLY two corpus scans (per-doc
    stats derive from the token profile), and no InferFiltersFromGenerate
    artifact re-evaluates split(text) inside a pushed scan filter."""
    df = REGISTRY["ext_repetition"].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Generate explode") == 2, opt
    assert "size(split" not in opt, opt


@pytest.mark.parametrize(
    "name,n_cache_reads",
    [("ext_bm25", 3), ("ext_lm_score", 3), ("ext_heavy_hitters", 2)],
)
def test_text_aggregates_reuse_persisted_relation(
    spark, sf_dir, name, n_cache_reads
):
    """The corpus-sized explode executes once; every other consumer reads
    the persisted relation (perdoc stats / tf / candidate groups) — the
    one-corpus-pass contract that holds the query linear at 100 TB."""
    df = REGISTRY[name].fn(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("InMemoryTableScan") == n_cache_reads, phys


def test_temperature_mix_corpus_side_is_map_only(spark, sf_dir):
    """ext_temperature_mix: the corpus-sized side must stay map-only —
    the multiplier relation (O(#sources) rows) joins by BROADCAST, and
    every hash Exchange in the plan belongs to the tiny stats sub-plan
    (keyed on `source`), never on doc-level data. The stats pass must
    also prune to the one column it needs."""
    df = REGISTRY["ext_temperature_mix"].fn(spark, sf_dir)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    # No doc-level exchange: every hashpartitioning is on `source`
    # (the 20-row stats agg), and there's no exchange keyed on doc_id.
    assert "hashpartitioning(doc_id" not in p
    # Column pruning: the stats pass's documents scan reads ONLY the
    # two columns the weights need (never `text`, the wide column).
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in p
    # Exactly TWO corpus scans: one stats pass + one realization pass.
    # (A naive stats.agg(max) cmax sub-plan would re-scan the corpus a
    # third time — the window-over-stats form keeps cmax corpus-free.)
    # Count ReadSchema lines: one per physical scan node.
    assert p.count("ReadSchema:") == 2


def test_epoch_shuffle_is_one_exchange_local_sort(spark, sf_dir):
    """ext_epoch_shuffle: the whole point is replacing a global
    range-sort with shard-local sorts — exactly ONE shuffle Exchange
    (hash on epoch+shard), a LOCAL (non-global) Sort feeding the
    row_number window, and no RangePartitioning / global Sort
    anywhere."""
    df = REGISTRY["ext_epoch_shuffle"].fn(spark, sf_dir)
    p = plan(df)
    assert p.count("hashpartitioning(") == 1
    assert "rangepartitioning" not in p
    # The Sort's second argument is `false` -> shard-local, not global.
    import re

    sorts = re.findall(r"\(\d+\) Sort\n.*\nArguments: \[.*\], (\w+),", p)
    assert sorts == ["false"]
    # The expanded corpus scan prunes to doc_id only.
    assert "ReadSchema: struct<doc_id:bigint>" in p


def test_corpus_prep_pipeline_has_no_corpus_sized_global_sort(spark, sf_dir):
    """ext_corpus_prep_pipeline (the fused dedup -> select -> gate ->
    mix -> shuffle -> pack flow): no global sort / range partitioning
    anywhere, every Sort shard- or partition-local, and the only
    unpartitioned Window runs over the O(#sources) stats aggregate —
    never over corpus rows. The shuffle+pack tail reuses ONE
    (epoch, shard) exchange for both window passes."""
    import re

    df = REGISTRY["ext_corpus_prep_pipeline"].fn(spark, sf_dir)
    p = plan(df)
    assert "rangepartitioning" not in p
    # every physical Sort is local (second argument false = not global)
    sorts = re.findall(r"\(\d+\) Sort\n.*\nArguments: \[.*\], (\w+),", p)
    assert sorts and all(s == "false" for s in sorts), p
    # exactly one exchange keyed on (epoch, shard): rank + running
    # offset share it (EnsureRequirements reuses the partitioning)
    assert p.count("hashpartitioning(epoch") == 1, p
    # the temperature-mix multiplier's unpartitioned window runs over
    # the per-source stats aggregate, never corpus rows: the plan's
    # single-partition exchanges are bounded (one for that tiny stats
    # window; AQE may add none elsewhere) — a corpus-sized global
    # window would show up as an extra SinglePartition exchange
    assert p.count("Exchange SinglePartition") <= 1, p
    # Window count: mix multiplier (over stats), shuffle rank, pack
    # running offset — no more
    tree = p.split("\n\n")[0]
    assert tree.count(") Window") <= 3, p
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name,max_single",
    [
        ("ext_vocab_growth", 1),
        ("ext_rfm", 3),
        ("ext_gini", 1),
        ("ext_mann_whitney", 1),
        ("ext_corpus_deciles", 1),
        ("ext_pareto_curve", 1),
        ("ext_equidepth_histogram", 1),
        ("ext_systematic_sample", 1),
        # r8: the skyline's global frontier pass is a distributed running
        # max — worst-case (monotone data, local prune removes nothing)
        # no longer plans a full-candidate single-task window.
        ("ext_skyline", 1),
    ],
)
def test_no_unpartitioned_window_over_data(spark, sf_dir, name, max_single):
    """The distributed-global-window rework (VERDICT r6 items 3-4): these
    queries formerly planned `NTILE/ROW_NUMBER/SUM OVER (ORDER BY ...)`
    over corpus- or customer-grain input — a single-partition sort of
    the data. Now every Window node is either partitioned by `_pid`
    (partition-local rank/prefix) or runs over the <= n_ranges
    per-partition count rows (whose spec is also keyed on `_pid`), so
    no window ever sees the relation in one task. The only
    SinglePartition exchanges are those count-row offsets (one per
    distributed_* call)."""
    df = REGISTRY[name].fn(spark, sf_dir)
    p = plan(df)
    details = p.split(") Window")[1:]
    assert details, p
    for d in details:
        head = d.split("\n\n")[0]
        assert "_pid" in head, (name, head)
    assert p.count("Exchange SinglePartition") <= max_single, p
    # the ranged relation is checkpointed exactly as
    # surrogate_key_distributed pins: offsets and data read ONE
    # materialization, so range boundaries cannot diverge per consumer
    assert "Scan ExistingRDD" in p, p


#: Ceiling on the classes the ten interactive reference queries compile
#: on a cold pass (measured 140 at sf0.001, 4 and 8 cores). The session's
#: codegen cache must hold this working set (tests/test_session.py).
INTERACTIVE_CODEGEN_CLASSES = 170


def test_interactive_mix_stops_recompiling(spark, sf_dir):
    """bench.py's ten reference queries run round-robin, as an
    interactive mix does. Once pass 1 has generated their classes, the
    codegen cache must keep them: passes 2 and 3 together may compile at
    most 10% of pass 1 (AQE can still pick an unseen final-plan variant,
    so 0 would be flaky). With Spark's default cache of 100 entries every
    later pass recompiled 129-132 of pass 1's 140 classes."""
    from bench import HEADLINE

    from world_cup_duckdb_spark.profile import codegen_stats

    compiled = []
    for _ in range(3):
        before = codegen_stats(spark).compiles
        for name in HEADLINE[:10]:
            REGISTRY[name].fn(spark, sf_dir).toPandas()
        compiled.append(codegen_stats(spark).compiles - before)
    first, steady = compiled[0], compiled[1] + compiled[2]
    assert first <= INTERACTIVE_CODEGEN_CLASSES, compiled
    assert steady <= 0.1 * first, compiled


def test_job_floor_pins_flagship_and_bloom(spark, sf_dir):
    """Job-count pins for the two multi-job bench queries the r7 bench
    decomposition flagged (BASELINE.md legacy-16 floor section).
    Round-8 outcome: ext_bloom_semijoin 6 → 4 (one fused nation⋈region
    broadcast; no eager persist-fill count — the bitmap broadcast build
    populates the asia cache); round 12 took it to 3 (bloom_semijoin_state
    fuses bitset + exact-key maps into ONE broadcast, persist dropped —
    VERDICT r11 item 1). flagship's 2-job variant measured SLOWER (extra
    fact-grain exchange) and was reverted to its 5-job broadcast form —
    job count alone is not the cost model, so the flagship pin records
    the accepted ceiling.
    Measured like the bench: AQE off, warm second rep, statusTracker
    delta."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc = spark.sparkContext
    try:
        for name, max_jobs in [("flagship", 5), ("ext_bloom_semijoin", 3)]:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()  # warm-up rep (codegen, cache fills released on entry)
            group = f"jobpin-{name}"
            sc.setJobGroup(group, group)
            try:
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            finally:
                sc.setJobGroup("jobpin-other", "jobpin-other")
            jobs = len(sc.statusTracker().getJobIdsForGroup(group) or [])
            assert jobs <= max_jobs, f"{name}: {jobs} jobs > pin {max_jobs}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bounded_one_partition_survives_optimizer(spark):
    """VERDICT r8 item 4: documented-bounded global windows partition by
    functions.bounded_one_partition so WindowExec's no-partition warning
    stays a TRUE alarm for corpus-grain regressions. The helper only
    works while Catalyst does NOT fold it out of the partition spec
    (lit(1), aliased literals, and hash*0 are all folded — measured) —
    pin that the optimized plan still carries a non-empty spec, and
    that results equal the bare global window's."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from world_cup_duckdb_spark.functions import bounded_one_partition

    df = spark.range(50).withColumn("v", F.col("id") % 7)
    w_bare = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    w_safe = (
        Window.partitionBy(bounded_one_partition("id"))
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bare = df.withColumn("s", F.sum("v").over(w_bare))
    safe = df.withColumn("s", F.sum("v").over(w_safe))
    # identical results (constant key: every row in ONE partition)
    assert sorted(map(tuple, safe.collect())) == sorted(
        map(tuple, bare.collect())
    )
    p = plan(safe)
    # the constant key survives optimization: the exchange hashes on it
    # (all rows -> one partition) instead of collapsing to the empty
    # spec whose execution would re-emit the warning
    assert "Exchange SinglePartition" not in p, p
    assert "hashpartitioning" in p, p
    head = p.split(") Window")[1].split("\n\n")[0]
    # window spec is non-empty: partition expressions precede the order
    assert "windowspecdefinition(_w" in head.replace(" ", ""), head


def test_importance_weights_scoring_pass_is_exchange_free(spark, sf_dir):
    """ext_importance_weights' RESCORING plan (the returned DataFrame)
    must be a map-only scan + TakeOrderedAndProject: the ratio table is a
    collected literal, the per-doc importance an in-row fold, the top-50
    per-partition heaps — zero exchanges, zero corpus-grain windows. If
    an Exchange or Window appears here, the scoring pass has regressed
    to a shuffle."""
    df = REGISTRY["ext_importance_weights"].fn(spark, sf_dir)
    p = plan(df)
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange" not in p, p
    assert "Window" not in p, p


def test_agreement_kappa_is_one_exchange_no_window(spark, sf_dir):
    """ext_agreement_kappa folds every vote into a SINGLE 13-counter
    aggregate row: exactly one Exchange (partial -> final agg), the 3
    pair rows a Generate (stack) over that row, no Window and no join
    anywhere. A second exchange or a window means the kappa computation
    has regressed to corpus-grain reshuffling."""
    p = plan(REGISTRY["ext_agreement_kappa"].fn(spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Window" not in tree, tree
    assert "Join" not in tree, tree
    assert "Generate" in tree, tree


def test_hard_negatives_label_filter_inside_broadcast_join(spark, sf_dir):
    """ext_hard_negatives must (a) broadcast the bounded anchor side of
    the nested-loop join, (b) apply the label-mismatch predicate INSIDE
    the join condition (no Filter node above the join scoring full
    same-label pairs first), and (c) take the per-anchor top-k with a
    partial WindowGroupLimit BEFORE the rank exchange so only k rows per
    partition per anchor shuffle."""
    p = plan(REGISTRY["ext_hard_negatives"].fn(spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert "BroadcastNestedLoopJoin Cross BuildLeft" in p, tree
    # label predicate is in the join condition, not a post-join Filter
    join_detail = p.split("BroadcastNestedLoopJoin")[-1]
    assert "query_label" in join_detail and "neighbor_label" in join_detail, p
    # partial top-k below the exchange, final above it
    assert tree.count("WindowGroupLimit") == 2, tree
    pre, post = tree.split(" Exchange", 1)
    assert "WindowGroupLimit" in pre and "WindowGroupLimit" in post, tree


def test_source_overlap_kmv_pair_joins_are_broadcast(spark, sf_dir):
    """ext_source_overlap_kmv's pair-expansion joins run on the
    persisted |sources|*k signature relation and must all be broadcast
    (BroadcastHashJoin for the signature attach, BroadcastNestedLoopJoin
    for the bounded source-pair cross) — a SortMergeJoin here would mean
    a corpus-independent relation is being shuffle-joined. The per-source
    bottom-k window must carry a WindowGroupLimit (rank never sorts the
    full vocabulary per source beyond the group limit)."""
    p = plan(REGISTRY["ext_source_overlap_kmv"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "WindowGroupLimit" in p, p


def test_hybrid_rrf_inverted_index_join_is_broadcast(spark, sf_dir):
    """ext_hybrid_rrf's lexical arm joins the corpus token stream
    against the bounded query-token side, which must ride a broadcast
    (the corpus is the streaming side of a BroadcastHashJoin); token
    dedup must be in-row (Generate over array_distinct directly above
    the parquet scans — no corpus-grain distinct exchange below the
    join). The fusion join runs on |Q|*K rows, so its physical form is
    left to Catalyst."""
    p = plan(REGISTRY["ext_hybrid_rrf"].fn(spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert "BroadcastHashJoin" in tree, tree
    # lexical-arm block: between the first BroadcastHashJoin and its
    # BroadcastExchange build side, the probe side is Generate->Filter->
    # Scan with no Exchange (dedup happened in-row)
    probe = tree.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange" not in probe, probe
    assert "Generate" in probe, probe


def test_url_dedup_is_map_then_one_exchange(spark, sf_dir):
    """ext_url_dedup's canonicalization must stay pure map-side string
    work feeding ONE canonical-url exchange (partial -> final count
    aggregate). A second exchange, a window, a join, or a Python
    boundary here means the canonicalizer stopped being the cheapest
    stage of the dedup funnel."""
    p = plan(REGISTRY["ext_url_dedup"].fn(spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Window" not in tree and "Join" not in tree, tree
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_corpus_datacard_stack_does_not_multiply_scans(spark, sf_dir):
    """ext_corpus_datacard's 15 report cells must come from ONE stack()
    Generate over a single assembled row, with the bounded (source,
    lang) partials persisted so the three aggregate consumers read the
    cut, not the corpus. The naive form (15 union branches, no cut)
    planned 120 parquet scans — this pin holds the scan count at the
    fixed small constant of the current shape."""
    p = plan(REGISTRY["ext_corpus_datacard"].fn(spark, sf_dir))
    assert "stack" in p or "Generate" in p, p
    assert "InMemoryTableScan" in p, p
    assert p.count("Scan parquet") <= 8, p.count("Scan parquet")


# ---------------------------------------------------------------------------
# bounded_one_partition contract — machine-checked (VERDICT r9 item 2)
# ---------------------------------------------------------------------------

_DATA_GRAIN = ("documents", "lineitem", "orders", "events")
# Nodes below which cardinality is no longer data-grain: an aggregate
# reduces to group count, a limit to k. WindowGroupLimit alone does NOT
# bound (k per partition-key value = data-grain when the key is).
_BOUNDING = {"Aggregate", "GlobalLimit", "LocalLimit"}


def _is_constant_partition_window(node) -> bool:
    """True when a logical Window's partition spec is ONLY the
    bounded_one_partition constant key — either the raw
    ``pmod(hash(..), 1)`` expression or a ``_wN`` attribute that a child
    Project aliases to it (Catalyst extracts window partition
    expressions into a Project below the Window)."""
    import re

    ps = node.partitionSpec()
    if ps.length() != 1:
        return False
    s = ps.apply(0).toString()
    if re.fullmatch(r"pmod\(hash\(.*\), 1\)", s):
        return True
    if re.fullmatch(r"_w\d+#\d+L?", s):
        child_tree = node.children().apply(0).toString()
        return bool(
            re.search(r"pmod\(hash\(.*?\), 1\) AS " + re.escape(s), child_tree)
        )
    return False


def _data_grain_leaves_unbounded(node) -> list:
    """Parquet scan leaves of data-grain tables reachable from ``node``
    without crossing a cardinality-bounding operator. LogicalRDD leaves
    (localCheckpoint cuts) are exempt by design: the distributed_*
    decompositions checkpoint the ranged corpus and their bounded
    windows then run over per-partition extracts of it — the checkpoint
    is the marker that the author already engaged the scale machinery."""
    hits = []
    name = node.nodeName()
    if name in _BOUNDING:
        return hits
    if name == "LogicalRelation":
        try:
            paths = node.relation().location().rootPaths()
            path = paths.apply(0).toString() if paths.length() else ""
        except Exception:
            path = ""
        for t in _DATA_GRAIN:
            if f"{t}.parquet" in path or f"/{t}/" in path:
                hits.append(t)
        return hits
    for i in range(node.children().length()):
        hits.extend(_data_grain_leaves_unbounded(node.children().apply(i)))
    return hits


def _constant_window_violations(node) -> list:
    """Walk a logical plan; report every constant-key Window that sits
    above an unbounded data-grain parquet scan."""
    viol = []
    if node.nodeName() == "Window" and _is_constant_partition_window(node):
        tables = _data_grain_leaves_unbounded(node.children().apply(0))
        if tables:
            viol.append(sorted(set(tables)))
    for i in range(node.children().length()):
        viol.extend(_constant_window_violations(node.children().apply(i)))
    return viol


def test_detector_flags_prefix_dedup_pre_fix_form(spark, sf_dir):
    """Sentinel: the r9 pre-fix shape (global LEAD under the constant
    key directly over the documents scan) must be caught — if this stops
    failing-the-pattern, the whole-registry gate below is toothless."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from world_cup_duckdb_spark.functions import bounded_one_partition
    from world_cup_duckdb_spark.sources.catalog import load_tables

    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    w = W.partitionBy(bounded_one_partition("doc_id")).orderBy(
        "text", "doc_id"
    )
    bad = d.select("doc_id", F.lead("doc_id").over(w).alias("next_id"))
    viol = _constant_window_violations(
        bad._jdf.queryExecution().optimizedPlan()
    )
    assert viol == [["documents"]], viol


def test_no_constant_partition_window_over_data_grain_input(registry_walk):
    """Whole-registry bounded_one_partition contract gate (VERDICT r9
    item 2): the helper exists to silence WindowExec's no-partition
    warning for documented-BOUNDED relations, which also silences the
    alarm when someone runs it over the corpus — the exact defect class
    of r9's two findings. This walk restores the alarm as a hard test:
    no registered query may plan a Window whose partition spec is only
    the constant key above an unbounded scan of documents / lineitem /
    orders / events."""
    offenders = []
    for name, (_p, opt, _schema) in registry_walk.items():
        viol = _constant_window_violations(opt)
        if viol:
            offenders.append((name, viol))
    assert offenders == [], offenders


def test_hapax_stats_two_exchanges_and_takeordered(spark, sf_dir):
    """ext_hapax_stats' stage math (BASELINE r10 note): one token
    explode feeding a token-keyed aggregate, one source rollup — exactly
    TWO hash exchanges, the algorithm's own keys — with the bounded
    per-source stats broadcast back and the final top-k planned as
    TakeOrderedAndProject, never a global sort. No Python in the plan."""
    p = plan(REGISTRY["ext_hapax_stats"].fn(spark, sf_dir))
    tree = p.split("\n\n")[0]
    n_hash_exchanges = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert n_hash_exchanges == 2, tree
    assert "TakeOrderedAndProject" in tree, tree
    assert "BatchEvalPython" not in p, p


def test_mmr_diversify_single_grouped_arrow_stage(spark, sf_dir):
    """ext_mmr_diversify's r9 rework, pinned: the greedy re-ranker is
    ONE grouped-Arrow stage (FlatMapGroupsInPandas) fed by one
    query-keyed exchange; everything below it is bounded candidate
    generation (broadcast query side + per-query WindowGroupLimit
    top-k). A second Arrow stage or a row-at-a-time Python eval means
    the unrolled ~10-stage join form crept back."""
    p = plan(REGISTRY["ext_mmr_diversify"].fn(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert tree.count("FlatMapGroupsInPandas") == 1, tree
    assert "BatchEvalPython" not in p, p
    assert "WindowGroupLimit" in tree, tree
    assert "CartesianProduct" not in p, p


def test_span_family_scan_counts_and_no_gram_reuse_cache(spark, sf_dir):
    """The sequence-level span keys' scale posture, pinned: the gram
    relation is RECOMPUTED per consumer (two corpus scans for the span
    extract — dup aggregate + hits join; +1 for the rebuild base in the
    decontaminate forms; eval adds its own gram pass) rather than
    persisted — a corpus-grain cache is the memory-unsafe choice at
    100 TB (contrast the bounded intermediates the registry does
    persist). A scan count above the pin means a consumer multiplied;
    an InMemoryTableScan means someone cached the corpus."""
    for name, max_scans in (
        ("ext_dup_span_extract", 2),
        ("ext_span_decontaminate", 3),
        ("ext_span_decontaminate_keepone", 3),
        ("ext_eval_decontaminate", 4),
    ):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        tree = p.split("\n\n")[0]
        assert tree.count("Scan parquet") <= max_scans, (name, tree)
        assert "InMemoryTableScan" not in tree, (name, tree)
        assert "BatchEvalPython" not in p, name


def test_stream_decontaminate_twin_is_map_only(spark, sf_dir):
    """The streaming decontaminator's whole point, pinned: after the
    bounded eval-gram collect at build time, the corpus side is ONE
    Arrow map stage over one scan — zero Exchanges, which is exactly
    what makes the same call legal on an unbounded stream in append
    mode. An Exchange here means someone reintroduced a shuffle and the
    streaming form would need state."""
    p = plan(REGISTRY["ext_stream_decontaminate"].fn(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "MapInPandas" in tree, tree
    assert "Exchange" not in tree, tree
    assert tree.count("Scan parquet") == 1, tree
    assert "BatchEvalPython" not in p, p

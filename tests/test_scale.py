"""Scale-operator tests (operators/scale.py): salted rewrites return
identical results to their plain forms, and bucketed co-located joins
produce exchange-free plans — the 'would this survive 100×' checks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from world_cup_duckdb_spark.functions.strings import dec
from world_cup_duckdb_spark.operators.scale import (
    salted_agg,
    salted_join,
    write_bucketed,
    write_partitioned,
)
from world_cup_duckdb_spark.sources.catalog import table


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    plain = li.join(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
    )
    salted = salted_join(
        li,
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
        n_salts=4,
        big_id_cols=["l_orderkey", "l_linenumber"],
    )
    assert _sorted_rows(salted.select(*sorted(salted.columns))) == _sorted_rows(
        plain.select(*sorted(plain.columns))
    )


def test_salted_join_spreads_hot_key(spark, sf_dir):
    # the salt column must take >1 value for a single hot key
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    hot = li.withColumn(
        "_salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(4))
    )
    n = hot.select("_salt").distinct().count()
    assert n == 4


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    plain = li.groupBy("l_orderkey").agg(
        F.sum(dec("l_quantity")).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    salted = salted_agg(
        li,
        "l_orderkey",
        aggs={"q": F.sum(dec("l_quantity")), "n": F.count(F.lit(1))},
        merges={"q": F.sum("q"), "n": F.sum("n").cast("long")},
        n_salts=4,
        salt_cols=["l_orderkey", "l_linenumber"],
    )
    assert _sorted_rows(salted.select("l_orderkey", "q", "n")) == _sorted_rows(
        plain.select("l_orderkey", "q", "n")
    )


def test_partition_pruning_static(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("part") / "orders")
    orders = table(spark, sf_dir, "orders")
    write_partitioned(orders, base, "o_orderstatus")
    scan = spark.read.parquet(base).filter(F.col("o_orderstatus") == "F")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # pruned scan returns exactly the F partition
    assert scan.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_join_constraint_prunes_partitions_statically(
    spark, sf_dir, tmp_path_factory
):
    # A literal filter on the dim join key constant-folds into a STATIC
    # partition filter on the fact scan (stronger than runtime DPP).
    base = str(tmp_path_factory.mktemp("dpp") / "orders")
    orders = table(spark, sf_dir, "orders")
    write_partitioned(orders, base, "o_orderpriority")
    fact = spark.read.parquet(base)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumnRenamed("o_orderpriority", "p")
    )
    joined = fact.join(dim, fact["o_orderpriority"] == dim["p"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "1-URGENT" in part_filters, plan
    assert (
        joined.count()
        == orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    )


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path_factory):
    # A dim filter NOT expressible as a literal on the join key (here on
    # an aggregate) forces runtime dynamic partition pruning: the fact
    # scan carries a dynamicpruning subquery on the partition column.
    base = str(tmp_path_factory.mktemp("dpp2") / "orders")
    orders = table(spark, sf_dir, "orders")
    write_partitioned(orders, base, "o_orderpriority")
    fact = spark.read.parquet(base)
    counts = orders.groupBy("o_orderpriority").count()
    median = sorted(r["count"] for r in counts.collect())[2]
    dim = counts.filter(F.col("count") <= median).withColumnRenamed(
        "o_orderpriority", "p"
    )
    joined = fact.join(dim, fact["o_orderpriority"] == dim["p"])
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan
    keep = {r["p"] for r in dim.collect()}
    assert (
        joined.count()
        == orders.filter(F.col("o_orderpriority").isin(*keep)).count()
    )


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("buckets")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bl = write_bucketed(li, spark, "b_lineitem", "l_orderkey", 4, str(base / "li"))
    bo = write_bucketed(
        orders, spark, "b_orders", "o_orderkey", 4, str(base / "ord")
    )
    joined = bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"])
    # disable AQE wrapping for a readable static plan; broadcast off so the
    # exchange-free property comes from bucketing, not from a tiny side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        n = joined.count()
        plain = li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        ).count()
        assert n == plain
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_approx_aggregates_within_error_bounds(spark, sf_dir):
    """The approximate scale path (HLL++ distinct, mergeable approx
    percentiles) stays within its advertised error of the exact answers
    it replaces at 100 TB."""
    from world_cup_duckdb_spark.operators.sketch import approx_group_stats

    li = table(spark, sf_dir, "lineitem")
    approx = {
        r["l_returnflag"]: r
        for r in approx_group_stats(
            li, ["l_returnflag"], "l_partkey", "l_extendedprice"
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd"),
            F.expr(
                "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("p50"),
            F.expr(
                "percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, a in approx.items():
        e = exact[flag]
        # HLL++ rsd=0.05 → allow 3 sigma
        assert abs(a["approx_distinct"] - e["nd"]) <= max(3, 0.15 * e["nd"])
        # rank error 1/accuracy=1e-4 → value error is data-dependent but
        # tiny on a smooth distribution; 1% is a generous ceiling
        assert abs(a["approx_p50"] - e["p50"]) <= 0.01 * abs(e["p50"])
        assert abs(a["approx_p95"] - e["p95"]) <= 0.01 * abs(e["p95"])


def test_zorder_clusters_both_dimensions(spark, sf_dir, tmp_path_factory):
    """Z-order layout bounds per-file min/max spans on BOTH clustered
    columns (the data-skipping property); a single-column sort leaves the
    second column's spans at ~full range."""
    from world_cup_duckdb_spark.operators.scale import write_zordered

    base = tmp_path_factory.mktemp("zorder")
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    stats = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    pk_span = stats[1] - stats[0]
    sk_span = stats[3] - stats[2]

    def mean_file_spans(path):
        import glob
        import pyarrow.parquet as pq

        pk, sk = [], []
        for f in glob.glob(f"{path}/*.parquet"):
            t = pq.read_table(f)
            if t.num_rows == 0:
                continue
            import pyarrow.compute as pc

            pk.append(
                pc.max(t["l_partkey"]).as_py() - pc.min(t["l_partkey"]).as_py()
            )
            sk.append(
                pc.max(t["l_suppkey"]).as_py() - pc.min(t["l_suppkey"]).as_py()
            )
        return sum(pk) / len(pk), sum(sk) / len(sk)

    # baseline: single-column range sort (16 files, like the zorder write)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(str(base / "plain"))
    )
    write_zordered(
        li,
        str(base / "z"),
        [("l_partkey", stats[0], stats[1]), ("l_suppkey", stats[2], stats[3])],
        n_files=16,
    )
    _, plain_sk = mean_file_spans(str(base / "plain"))
    z_pk, z_sk = mean_file_spans(str(base / "z"))

    assert plain_sk > 0.9 * sk_span          # partkey sort can't skip on suppkey
    assert z_sk < 0.6 * sk_span              # zorder bounds suppkey spans...
    assert z_pk < 0.6 * pk_span              # ...while ALSO bounding partkey
    # and no rows were lost in the rewrite
    assert spark.read.parquet(str(base / "z")).count() == li.count()


def test_compaction_binpacks_and_preserves_data(spark, sf_dir, tmp_path):
    from world_cup_duckdb_spark.operators.scale import compact_parquet
    from world_cup_duckdb_spark.sources.catalog import table

    path = str(tmp_path / "frag")
    li = table(spark, sf_dir, "lineitem")
    li.repartition(64).write.parquet(path)  # 64 shards of a small table
    before_hash = li.selectExpr(
        "sum(hash(l_orderkey, l_linenumber, l_quantity)) as h"
    ).collect()[0]["h"]

    nb, na = compact_parquet(spark, path, target_bytes=8 * 1024 * 1024)
    assert nb == 64
    assert na < 8  # ~1-2 files at sf0.01; bound allows sf variation

    after = spark.read.parquet(path)
    after_hash = after.selectExpr(
        "sum(hash(l_orderkey, l_linenumber, l_quantity)) as h"
    ).collect()[0]["h"]
    assert after_hash == before_hash
    assert after.count() == li.count()


def test_rfm_approx_cutoffs_match_ntile(spark, sf_dir):
    """The documented 100 TB path for ext_rfm — percentile_approx quintile
    cutoffs broadcast back instead of a global-sort NTILE — assigns the
    same monetary score for ≥97% of customers (disagreement only at exact
    bucket boundaries / tie regions)."""
    from world_cup_duckdb_spark.queries import REGISTRY

    rfm = REGISTRY["ext_rfm"].fn(spark, sf_dir).select("custkey", "monetary",
                                                       "m_score")
    cuts = rfm.agg(
        F.percentile_approx("monetary", [0.2, 0.4, 0.6, 0.8], 10000).alias("c")
    ).collect()[0]["c"]
    asc = (
        F.lit(1)
        + sum((F.col("monetary") > F.lit(c)).cast("int") for c in cuts)
    )
    scored = rfm.withColumn("approx_m", F.lit(6) - asc)
    agree = scored.agg(
        F.avg((F.col("approx_m") == F.col("m_score")).cast("double"))
    ).collect()[0][0]
    assert agree >= 0.97, agree


def test_hll_sketch_union_estimate_within_bound(spark, sf_dir):
    # DataSketches HLL (default lgConfigK=12): the union of daily
    # sketches must estimate the whole-range distinct count within 5%
    # relative error (~3 sigma of the published ~1.6% standard error).
    # The bound is computed INSIDE the query (est_status) since the r2
    # oracle upgrade — the raw estimate is implementation-defined and
    # no longer part of the hash-checked output schema. On a bound miss
    # est_status carries the estimate, so this assert prints it.
    from world_cup_duckdb_spark.queries import REGISTRY

    row = REGISTRY["ext_hll_sketch_union"].fn(spark, sf_dir).collect()[0]
    assert row["n_days"] >= 1
    assert row["exact_total"] >= 1
    assert row["est_status"] == "ok", row


def test_dynamic_partition_overwrite_backfills_idempotently(
    spark, sf_dir, tmp_path
):
    # Backfill posture: re-running one day's job must replace ONLY that
    # day's partition (dynamic mode), not truncate the table the way
    # static overwrite does — the property that makes partition-grain
    # reruns safe at 100 TB.
    from pyspark.sql import functions as F
    from world_cup_duckdb_spark.sources.catalog import table

    out = str(tmp_path / "events_by_day")
    e = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date").cast("string")
    )
    e.write.partitionBy("day").mode("overwrite").parquet(out)
    total = spark.read.parquet(out).count()
    one_day = e.select("day").orderBy("day").first()["day"]
    day_rows = e.filter(F.col("day") == one_day)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # rerun the one day's backfill with doubled values — row count
        # must be unchanged (same rows replaced), other days untouched
        day_rows.withColumn("value", F.col("value") * 2).write.partitionBy(
            "day"
        ).mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    after = spark.read.parquet(out)
    assert after.count() == total
    assert after.filter(F.col("day") != one_day).count() == total - day_rows.count()


def test_bloom_probe_never_drops_true_matches(spark):
    """No false negatives, whatever the key distribution: the bloom
    candidate set must be a superset of the exact semi-join result."""
    from world_cup_duckdb_spark.operators.optim import bloom_build, bloom_probe

    keys = spark.createDataFrame([(i * 37,) for i in range(50)], "k long")
    big = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    bloom = bloom_build(keys, "k", m_bits=512)
    cand = {r.k for r in bloom_probe(big, "k", bloom, m_bits=512).collect()}
    exact = {i * 37 for i in range(50) if i * 37 < 2000}
    assert exact <= cand
    # and the filter actually prunes (FP rate far below pass-all)
    assert len(cand) < 2000 * 0.5


def test_bloom_probe_joins_are_broadcast(spark, sf_dir):
    """The filter side must broadcast — the probe is a map-side filter of
    the big scan, never a shuffle of the big side. The bloom itself ships
    as a single-row map<word,bits> (BroadcastNestedLoopJoin of a 1-row
    build — both probes are then map lookups inside the scan stage); the
    exact key set is a broadcast hash join. The ONE ShuffledHashJoin
    allowed is the r8 fused nation⋈region dim join (25-row exchanges
    inside the key-set build, replacing a broadcast-build job each —
    BASELINE.md r8 job-floor table); the FACT (lineitem) side never
    sort-merge- or shuffle-hash-joins."""
    from world_cup_duckdb_spark.queries import REGISTRY

    df = REGISTRY["ext_bloom_semijoin"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    import re as _re

    # the (persisted, multiply-consumed) asia subplan prints once per
    # consumer in the tree — count DISTINCT operator ids, not mentions
    shj_ids = set(_re.findall(r"\((\d+)\) ShuffledHashJoin", plan))
    assert len(shj_ids) <= 1, plan
    # the shuffle-hash join must be the bounded dims, never lineitem
    for seg in plan.split(") ShuffledHashJoin")[1:]:
        head = seg.split("\n\n")[0]
        assert "lineitem" not in head, plan


def test_cms_estimate_never_undercounts(spark):
    """CMS point estimates are >= the true frequency for every queried key."""
    from world_cup_duckdb_spark.operators.optim import cms_cells, cms_estimate

    rows = [(i % 7,) for i in range(700)] + [(100 + i % 3,) for i in range(90)]
    items = spark.createDataFrame(rows, "k long")
    cells = cms_cells(items, "k", width=64)
    queries = spark.createDataFrame([(k,) for k in (0, 3, 100, 102)], "k long")
    est = {r.k: r.cms_est for r in cms_estimate(queries, "k", cells, width=64).collect()}
    truth = {0: 100, 3: 100, 100: 30, 102: 30}
    for k, t in truth.items():
        assert est[k] >= t


def test_priority_sample_size_and_estimator_floor(spark, sf_dir):
    """Sample has exactly k rows; every w_hat >= its own weight and >= the
    threshold-or-weight floor (Duffield-Lund-Thorup estimator shape)."""
    from world_cup_duckdb_spark.queries import REGISTRY

    rows = REGISTRY["ext_priority_sample"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.w_hat >= r.n_chars


def test_spread_fires_on_persisted_single_partition_input(spark):
    """A persisted DataFrame reports no inputFiles; spread_for_cpu_work
    must fall back to the cached partition count instead of silently
    leaving all work on one core."""
    from world_cup_duckdb_spark.operators.scale import spread_for_cpu_work

    df = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "k").persist()
    try:
        df.count()
        assert df.inputFiles() == []
        out = spread_for_cpu_work(df, "k")
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
    finally:
        df.unpersist()


def test_scale_check_harness_stages_and_times(spark, sf_dir, tmp_path):
    """The committed scaling harness (scripts/scale_check.py) must stage
    shifted-key replicas in the catalog layout and produce growth numbers
    — the reproducible form of BASELINE.md's 8× self-check."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    import scale_check

    report = scale_check.run_check(
        spark,
        sf_dir,
        replication=2,
        reps=1,
        names=["op43_hash_agg"],
        scratch=str(tmp_path / "sc"),
    )
    q = report["queries"]["op43_hash_agg"]
    assert report["replication"] == 2
    assert q["base"] > 0 and q["scaled"] > 0 and q["growth"] > 0
    # staged replica actually doubled the fact table
    import pyspark.sql.functions as F  # noqa: F401

    doubled = spark.read.parquet(str(tmp_path / "sc" / "x2" / "lineitem.parquet"))
    base = spark.read.parquet(str(tmp_path / "sc" / "base" / "lineitem.parquet"))
    assert doubled.count() == 2 * base.count()
    # replica key spaces are disjoint (the shift really separates them;
    # the fixture itself carries PK duplicates by design — op50's quarry —
    # so per-replica duplicate structure is preserved, not collapsed)
    assert (
        doubled.select("l_orderkey").distinct().count()
        == 2 * base.select("l_orderkey").distinct().count()
    )

"""Unit tests on tiny literal frames (the OP04 pattern) for the fiddly
operators called out in SURVEY.md §5/§7: validators (incl. violation
paths the registry queries can't show), surrogate keys, diagonal union,
unpivot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from world_cup_duckdb_spark.operators.relational import (
    diagonal_union,
    surrogate_key,
    unpivot_measures,
)
from world_cup_duckdb_spark.operators.validators import (
    ValidationError,
    fk_orphans,
    null_pk_rows,
    pk_duplicates,
    validated_write,
)


def test_pk_duplicates_detects(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "id int, v string")
    dups = pk_duplicates(df, ["id"]).collect()
    assert [(r["id"], r["n"]) for r in dups] == [(1, 2)]


def test_pk_duplicates_composite_clean(spark):
    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], "a int, b int")
    assert pk_duplicates(df, ["a", "b"]).count() == 0


def test_fk_orphans_detects_and_ignores_nulls(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None)], "id int, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    orphans = fk_orphans(child, parent, {"fk": "pk"}).collect()
    # 99 is an orphan; the null FK is not (SQL FK semantics).
    assert [r["id"] for r in orphans] == [2]


def test_null_pk_rows(spark):
    df = spark.createDataFrame([(None, 1), (2, None), (3, 4)], "a int, b int")
    assert null_pk_rows(df, ["a"]).count() == 1
    assert null_pk_rows(df, ["a", "b"]).count() == 2


def test_validated_write_gates(spark, tmp_path):
    bad = spark.createDataFrame([(1,), (1,)], "id int")
    with pytest.raises(ValidationError, match="duplicate primary key"):
        validated_write(bad, str(tmp_path / "bad"), pk=["id"])
    good = spark.createDataFrame([(1,), (2,)], "id int")
    validated_write(good, str(tmp_path / "good"), pk=["id"])
    assert spark.read.parquet(str(tmp_path / "good")).count() == 2


def test_surrogate_key_dense_unique_deterministic(spark):
    # Keys must be dense 1-based in natural-key order, independent of
    # input order/partitioning (SURVEY.md §7 hard part 1).
    rows = [("b",), ("c",), ("a",)]
    df1 = spark.createDataFrame(rows, "k string").repartition(4)
    df2 = spark.createDataFrame(list(reversed(rows)), "k string").coalesce(1)
    out1 = {(r["k"], r["id"]) for r in surrogate_key(df1, "X-", ["k"]).collect()}
    out2 = {(r["k"], r["id"]) for r in surrogate_key(df2, "X-", ["k"]).collect()}
    assert out1 == out2 == {("a", "X-1"), ("b", "X-2"), ("c", "X-3")}


def test_diagonal_union_missing_cols_null(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, 3.5)], "id int, b double")
    out = diagonal_union([a, b])
    assert set(out.columns) == {"id", "a", "b"}
    rows = {r["id"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows == {1: ("x", None), 2: (None, 3.5)}


def test_unpivot_type_unification(spark):
    df = spark.createDataFrame([(1, 2, 3.5)], "id int, m1 int, m2 double")
    out = unpivot_measures(df, ["id"], ["m1", "m2"]).collect()
    vals = {(r["variable"], r["value"]) for r in out}
    assert vals == {("m1", 2.0), ("m2", 3.5)}


def test_connected_components_chain_and_star(spark):
    from world_cup_duckdb_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multi-round propagation),
    # star 10-(11,12,13), isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "doc_a bigint, doc_b bigint",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_connected_components_exact_budget_converges(spark):
    """The r13 batched probe schedule (probes after rounds 1, 3, 5, …,
    capped at max_iterations) must still CONVERGE — not raise — on a
    graph whose diameter needs exactly the budget: a 5-chain needs three
    label-changing rounds past the 1-hop seed plus the confirming
    round, so max_iterations=4 exercises the capped final batch
    (schedule [1, 2, 1]) and must return fully-propagated labels."""
    from world_cup_duckdb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a bigint, doc_b bigint"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iterations=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_lsh_star_edges_is_one_window_pass_no_join(spark):
    """The r13 star-hub rework: the bucket minimum attaches via a MIN
    window over (band, band_key) — ONE exchange — not the old
    hash-aggregate + join-back pair, so the plan must contain a Window
    and no join of any kind. Rows must equal the aggregate+join form's
    (min per bucket linked to every other member)."""
    from world_cup_duckdb_spark.operators.dedup import lsh_star_edges

    bands = spark.createDataFrame(
        [(1, 0, "k1"), (2, 0, "k1"), (3, 0, "k1"), (3, 1, "k2"), (9, 1, "k2")],
        "doc_id bigint, band int, band_key string",
    )
    edges = lsh_star_edges(bands)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "Join" not in plan, plan
    got = {(r["doc_a"], r["doc_b"]) for r in edges.collect()}
    assert got == {(1, 2), (1, 3), (3, 9)}


def test_spread_decision_is_memoized_per_plan(spark):
    """The r13 split-estimate memo: probing the same analyzed plan twice
    in one session must hit the memo (one entry, same decision), and a
    different input must get its own entry — keyed on
    (applicationId, semanticHash), never shared across inputs."""
    from world_cup_duckdb_spark.operators import scale

    a = spark.range(0, 100, 1, 1).withColumnRenamed("id", "k").persist()
    b = spark.range(100, 300, 1, 2).withColumnRenamed("id", "k").persist()
    try:
        a.count(), b.count()
        scale._SPREAD_MEMO.clear()
        out1 = scale.spread_for_cpu_work(a, "k")
        assert len(scale._SPREAD_MEMO) == 1
        # A second probe of the same plan must not add a memo entry.
        out2 = scale.spread_for_cpu_work(a, "k")
        assert len(scale._SPREAD_MEMO) == 1
        assert (
            out1.rdd.getNumPartitions() == out2.rdd.getNumPartitions()
        )
        scale.spread_for_cpu_work(b, "k")
        assert len(scale._SPREAD_MEMO) == 2
        # A full memo is cleared before the next entry goes in.
        scale._SPREAD_MEMO.clear()
        scale._SPREAD_MEMO.update(
            ((None, i), 0) for i in range(scale._SPREAD_MEMO_MAX)
        )
        scale.spread_for_cpu_work(a, "k")
        assert len(scale._SPREAD_MEMO) == 1
    finally:
        a.unpersist()
        b.unpersist()
        scale._SPREAD_MEMO.clear()


def test_compaction_clears_stale_spread_estimate(spark, tmp_path):
    """compact_parquet rewrites a path in place: a re-read keeps the
    analyzed-plan hash the split-estimate memo is keyed on, but not the
    file layout, so the memoized estimate must not survive it."""
    from world_cup_duckdb_spark.operators import scale

    path = str(tmp_path / "t")
    spark.range(0, 64, 1, 16).write.parquet(path)

    def memo_key():
        df = spark.read.parquet(path)
        scale.spread_for_cpu_work(df, "id")
        return (
            spark.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )

    try:
        key = memo_key()
        assert scale._SPREAD_MEMO[key] == 16
        scale.compact_parquet(spark, path)
        assert key not in scale._SPREAD_MEMO
        assert memo_key() == key
        assert scale._SPREAD_MEMO[key] == 1
    finally:
        scale._SPREAD_MEMO.clear()


def test_stage_token_counts_escapes_stopword_literals(spark, monkeypatch):
    """The SQL-string stopword IN-list must match the Column-form
    stopword_count for words holding a quote or a backslash."""
    from world_cup_duckdb_spark.operators import text

    monkeypatch.setitem(text.STOPWORDS, "en", ("it's", "a\\b", "\\'"))
    df = spark.createDataFrame(
        [(1, "it's a\\b \\' its ab a\\\\b it''s")], "doc_id int, text string"
    )
    staged = text.stage_token_counts(df, keep=("doc_id",), langs=("en",))
    expected = df.select(
        text.stopword_count(text.tokens("text"), "en").alias("en_n")
    )
    assert staged.select("en_n").collect() == expected.collect()
    assert expected.first()["en_n"] == 3


def test_connected_components_raises_past_iteration_budget(spark):
    """The non-convergence guard must still fail loudly under the r12
    lazy-checkpoint loop (one fully-materializing count probe per
    round): a diameter-3 chain cannot converge in one round, and
    returning the intermediate labels as if converged would be silently
    wrong dedup groups."""
    import pytest

    from world_cup_duckdb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1).collect()


def test_asof_join_ties_and_no_match(spark):
    from datetime import datetime
    from world_cup_duckdb_spark.operators.relational import asof_join

    ts = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "early"),   # before any right → drop
         (1, ts("2024-01-01T12:00:00"), "tie"),     # ties right@12:00 → match it
         (1, ts("2024-01-01T15:00:00"), "late"),    # after both → latest right
         (2, ts("2024-01-01T12:00:00"), "other")],  # key with no right → drop
        "k bigint, lts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T12:00:00"), "r1"),
         (1, ts("2024-01-01T14:00:00"), "r2")],
        "k bigint, rts timestamp, rval string",
    )
    got = {r["tag"]: r["rval"] for r in
           asof_join(left, right, "k", "lts", "rts", ["rval"]).collect()}
    assert got == {"tie": "r1", "late": "r2"}


def test_asof_join_right_ts_tie_picks_max_payload(spark):
    """Two right rows sharing (key, ts) must resolve to the MAX payload
    struct deterministically — not whichever row the partition sort
    happened to place last (the pick must be stable under any input
    partitioning, or cross-engine hash checks flap)."""
    from datetime import datetime
    from world_cup_duckdb_spark.operators.relational import asof_join

    ts = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T13:00:00"), "probe")],
        "k bigint, lts timestamp, tag string",
    )
    dup = [(1, ts("2024-01-01T12:00:00"), rid) for rid in (7, 3, 9, 1)]
    for n_parts in (1, 4):
        right = spark.createDataFrame(
            dup, "k bigint, rts timestamp, rid bigint"
        ).repartition(n_parts)
        rows = asof_join(left, right, "k", "lts", "rts", ["rid"]).collect()
        assert [r["rid"] for r in rows] == [9], rows


def test_bucketed_range_join_spanning_intervals(spark):
    from datetime import datetime
    from world_cup_duckdb_spark.operators.relational import bucketed_range_join

    ts = lambda s: datetime.fromisoformat(s)
    points = spark.createDataFrame(
        [(1, ts("2024-01-01T10:30:00")),
         (2, ts("2024-01-01T12:30:00")),
         (3, ts("2024-01-01T13:30:00"))],
        "pid bigint, pts timestamp",
    )
    # one interval spanning 3 hour-buckets, one disjoint
    intervals = spark.createDataFrame(
        [(100, ts("2024-01-01T10:00:00"), ts("2024-01-01T12:59:59")),
         (200, ts("2024-01-01T20:00:00"), ts("2024-01-01T20:59:59"))],
        "iid bigint, s timestamp, e timestamp",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in bucketed_range_join(
            points, intervals, "pts", "s", "e", bucket_seconds=3600
        ).collect()
    )
    # point 3 (13:30) is outside both; spanning interval catches 1 and 2
    # exactly once each despite covering several buckets
    assert got == [(1, 100), (2, 100)]


def test_kmv_estimate_accuracy_and_exact_fallback(spark):
    from world_cup_duckdb_spark.operators.sketch import kmv_distinct_estimate

    big = spark.range(0, 5000).selectExpr("'g' AS grp", "id AS v")
    small = spark.range(0, 10).selectExpr("'s' AS grp", "id AS v")
    df = big.unionByName(small)
    est = {r["grp"]: r["kmv_estimate"]
           for r in kmv_distinct_estimate(df, "v", ["grp"], k=64).collect()}
    assert est["s"] == 10.0  # below k → exact
    assert abs(est["g"] - 5000) / 5000 < 0.35  # ~1/sqrt(62) ≈ 13% expected


def test_apply_in_pandas_fit_matches_regr_aggregates(spark, sf_dir):
    """The applyInPandas group-map OLS equals the JVM REGR_* aggregate
    fit (tolerance-based: numpy and SQL accumulate floats in different
    orders)."""
    from world_cup_duckdb_spark.queries import REGISTRY

    agg = {
        r["event_type"]: r
        for r in REGISTRY["ext_regr_per_group"].fn(spark, sf_dir).collect()
    }
    pdf = {
        r["event_type"]: r
        for r in REGISTRY["ext_fit_pandas"].fn(spark, sf_dir).collect()
    }
    assert set(agg) == set(pdf)
    for k, a in agg.items():
        p = pdf[k]
        assert p["n"] == a["n"]
        for fld in ("slope", "intercept", "r2"):
            assert abs(p[fld] - a[fld]) <= 1e-3 + 1e-3 * abs(a[fld]), (
                k, fld, p[fld], a[fld],
            )


def test_observe_metrics_ride_the_job(spark, sf_dir):
    """`df.observe` collects pipeline health metrics (row counts, sums,
    null tallies) DURING the action — no second scan, no extra job. The
    observability primitive a production pipeline attaches to every
    stage boundary; here the observed metrics must equal a separately
    computed aggregate."""
    from pyspark.sql import Observation

    from world_cup_duckdb_spark.sources.catalog import table

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("ingest_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("qty_sum"),
        F.count(F.when(F.col("l_orderkey").isNull(), 1)).alias("null_keys"),
    )
    n_after_filter = observed.filter(F.col("l_quantity") > 25).count()
    metrics = obs.get
    want = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("q"),
    ).collect()[0]
    assert metrics["n_rows"] == want["n"]
    assert metrics["qty_sum"] == want["q"]
    assert metrics["null_keys"] == 0
    assert 0 < n_after_filter < metrics["n_rows"]


def test_prefix_filter_equals_naive_jaccard(spark):
    """The prefix-filtered set-similarity join must produce EXACTLY the
    naive all-pairs result on a corpus with controlled overlap: exact
    duplicates (J=1), heavy overlaps (J≈0.8), and unrelated docs (J≈0)."""
    from world_cup_duckdb_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),   # dup of 1
            (3, "the quick brown fox jumps over the lazy cat"),   # near-dup
            (4, "completely different text with no shared grams"),
            (5, "yet another unrelated document body entirely"),
            (6, "the quick brown fox leaps over the lazy dog"),   # near-dup
        ],
        ["doc_id", "text"],
    )
    for thr in (0.3, 0.5, 0.8):
        naive = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(docs, threshold=thr).collect()
        }
        fast = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in prefix_filtered_jaccard_pairs(docs, threshold=thr).collect()
        }
        assert fast == naive, (thr, fast ^ naive)
        assert naive, f"degenerate fixture at threshold {thr}"


def test_allocation_sums_exactly_to_budget(spark, sf_dir):
    """Largest-remainder apportionment must hit the budget exactly, with
    every nation getting base or base+1 seats."""
    from world_cup_duckdb_spark.queries import REGISTRY

    rows = REGISTRY["ext_allocation"].fn(spark, sf_dir).collect()
    assert sum(r.seats for r in rows) == 10_000
    assert all(r.seats - r.base_seats in (0, 1) for r in rows)


def test_skyline_is_strict_staircase(spark, sf_dir):
    """Along increasing price the frontier's sizes must strictly increase
    (any non-increase means a cheaper point dominates)."""
    from world_cup_duckdb_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["ext_skyline"].fn(spark, sf_dir).collect(),
        key=lambda r: r.p_retailprice,
    )
    assert len(rows) >= 1
    sizes = [r.best_size for r in rows]
    assert all(a < b for a, b in zip(sizes, sizes[1:]))


def test_interval_merge_bounds(spark, sf_dir):
    """Merged coverage is bounded by [one hold, n_events * hold] and the
    interval count never exceeds the event count."""
    from world_cup_duckdb_spark.queries import REGISTRY

    hold = 30 * 60 * 1_000_000
    rows = REGISTRY["ext_interval_merge"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_intervals <= r.n_events
        assert hold <= r.covered_us <= r.n_events * hold
        assert hold <= r.longest_us <= r.covered_us


def test_misra_gries_candidates_superset_of_true_heavy(spark):
    """Whatever the partitioning, the union of per-partition MG candidate
    sets must contain every item with global frequency > N/k."""
    from world_cup_duckdb_spark.operators.sketch import misra_gries_candidates

    # 'a' has 40% of 1000 rows; 'b' 20%; 400 singletons fill the tail.
    rows = (
        [("a",)] * 400 + [("b",)] * 200 + [(f"x{i}",) for i in range(400)]
    )
    for k, parts in [(5, 1), (5, 7), (3, 4)]:
        df = spark.createDataFrame(rows, "term string").repartition(parts)
        cand = {
            r.term for r in misra_gries_candidates(df, "term", k).collect()
        }
        true_heavy = {t for t in ("a", "b") if rows.count((t,)) * k > len(rows)}
        assert true_heavy <= cand, (k, parts, true_heavy - cand)


def test_survival_curve_monotone_nonincreasing(spark, sf_dir):
    """S(t) must start ≤ 1 and never increase over death times."""
    from world_cup_duckdb_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["ext_survival_km"].fn(spark, sf_dir).collect(),
        key=lambda r: r.t_hours,
    )
    assert rows
    assert rows[0].surv <= 1.0
    survs = [r.surv for r in rows]
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    assert all(0.0 <= s <= 1.0 for s in survs)


def test_minhash_signature_matches_hand_computed_md5(spark):
    """Regression for the F.transform two-parameter-lambda pitfall: a
    2-arg lambda is (element, index), so `lambda s, seed=seed:` binds the
    loop variable to the array-index Column and silently corrupts every
    signature. Pin each signature to a hand-computed md5 slice so that
    class of miscompile can never ship again."""
    import hashlib

    from world_cup_duckdb_spark.operators.dedup import minhash_bands

    text = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])

    num_hashes, band_size, shingle_words = 8, 2, 3
    toks = text.split(" ")
    shingles = sorted(
        {
            " ".join(toks[i : i + shingle_words])
            for i in range(len(toks) - shingle_words + 1)
        }
    )
    sigs = []
    for i in range(num_hashes):
        seed = i // 4
        lo = (i % 4) * 8
        sigs.append(
            min(
                hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[lo : lo + 8]
                for s in shingles
            )
        )
    want = {
        (b, "".join(sigs[b * band_size : (b + 1) * band_size]))
        for b in range(num_hashes // band_size)
    }
    got = {
        (r["band"], r["band_key"])
        for r in minhash_bands(
            docs,
            num_hashes=num_hashes,
            band_size=band_size,
            shingle_words=shingle_words,
        ).collect()
    }
    assert got == want


def test_fetch_cached_hit_miss_and_atomic_publish(tmp_path):
    """OP01 cache contract: first fetch downloads, second is a hit; a
    leftover partial (.part) file is never served as cached content; two
    URLs sharing a basename do not collide."""
    from world_cup_duckdb_spark.sources.remote import fetch_cached

    src_a = tmp_path / "a" / "data.csv"
    src_b = tmp_path / "b" / "data.csv"
    src_a.parent.mkdir()
    src_b.parent.mkdir()
    src_a.write_text("x,y\n1,2\n")
    src_b.write_text("x,y\n3,4\n")
    cache = str(tmp_path / "cache")

    p1, hit1 = fetch_cached(f"file://{src_a}", cache)
    assert not hit1 and open(p1).read() == "x,y\n1,2\n"
    p2, hit2 = fetch_cached(f"file://{src_a}", cache)
    assert hit2 and p2 == p1
    # same basename, different URL -> different cache entry
    p3, hit3 = fetch_cached(f"file://{src_b}", cache)
    assert not hit3 and p3 != p1 and open(p3).read() == "x,y\n3,4\n"
    # a stray partial download must not read as cached
    import os
    stray = p1 + ".part"
    open(stray, "w").write("partial")
    p4, hit4 = fetch_cached(f"file://{src_a}", cache)
    assert hit4 and open(p4).read() == "x,y\n1,2\n"


def test_driver_key_order_is_pinned_head_then_registration_order():
    """The round driver evaluates queries() in dict order under a bounded
    budget (~the first 50 keys), so ordering IS coverage policy: the
    export is DRIVER_HEAD, then every other oracled key in registration
    order, and only oracled keys are exported."""
    from world_cup_duckdb_spark.queries import (
        DRIVER_HEAD,
        REGISTRY,
        oracle_sql,
        queries,
    )

    names = list(queries())
    oracled = {n for n, q in REGISTRY.items() if q.oracle is not None}
    assert set(names) == oracled
    assert set(oracle_sql()) == set(queries())
    assert list(oracle_sql()) == names
    # Head names are unique, registered and oracled, and lead the export.
    assert len(set(DRIVER_HEAD)) == len(DRIVER_HEAD)
    assert set(DRIVER_HEAD) <= oracled, set(DRIVER_HEAD) - oracled
    assert names[:len(DRIVER_HEAD)] == list(DRIVER_HEAD)
    # The rest follow registration order.
    assert names[len(DRIVER_HEAD):] == [
        n for n in REGISTRY if n in oracled and n not in DRIVER_HEAD
    ]


def test_registry_export_opens_no_repository_file():
    """Importing the driver contract and exporting queries()/oracle_sql()
    must not read anything in the checkout besides Python sources: the
    export order cannot depend on which artifacts a checkout carries."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    probe = (
        "import json, os, sys\n"
        "opened = []\n"
        "def hook(event, args):\n"
        "    if event == 'open' and isinstance(args[0], (str, bytes)):\n"
        "        opened.append(os.fsdecode(args[0]))\n"
        "sys.addaudithook(hook)\n"
        "import __spark_entry__ as e\n"
        "e.queries(); e.oracle_sql()\n"
        "print(json.dumps(opened))\n"
    )
    out = subprocess.run(
        [sys.executable, "-B", "-c", probe],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    opened = {
        os.path.realpath(root / p) for p in json.loads(out.splitlines()[-1])
    }
    in_repo = sorted(
        p for p in opened
        if Path(p).is_relative_to(root)
        and not p.endswith((".py", ".pyc"))
    )
    assert in_repo == [], in_repo


def test_surrogate_key_distributed_equals_global_window(spark):
    """The range-shuffle + local-index + offset decomposition must assign
    EXACTLY the ids the single-task global window form assigns, on an
    input whose partitioning and order are adversarial (round-robin over
    unsorted keys)."""
    from world_cup_duckdb_spark.operators.relational import (
        surrogate_key,
        surrogate_key_distributed,
    )

    rows = [(k,) for k in (42, 7, 1999, 3, 500, 12, 8, 1001, 77, 256)]
    df = spark.createDataFrame(rows, "k long").repartition(5)
    got = {
        (r.k): r.id
        for r in surrogate_key_distributed(df, "X-", ["k"], n_ranges=3).collect()
    }
    want = {
        (r.k): r.id for r in surrogate_key(df, "X-", ["k"]).collect()
    }
    assert got == want
    assert want[3] == "X-1" and want[1999] == "X-10"


def test_hdr_quantiles_bounded_relative_error(spark, sf_dir):
    """The HDR sketch's bucket geometry guarantees ≤ 2^-(m) relative
    half-width per bucket (m=4 → 6.25%, plus midpoint rounding); every
    estimated percentile must land within that bound of the exact one."""
    from world_cup_duckdb_spark.operators.sketch import hdr_quantiles
    from world_cup_duckdb_spark.sources.catalog import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    est = {
        r["l_returnflag"]: r
        for r in hdr_quantiles(li, "l_extendedprice", ["l_returnflag"]).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            *[
                F.expr(
                    "percentile_cont({p}) WITHIN GROUP "
                    "(ORDER BY l_extendedprice)".format(p=p)
                ).alias(f"p{round(p * 100)}")
                for p in (0.5, 0.95, 0.99)
            ]
        )
        .collect()
    }
    assert set(est) == set(exact) and est
    for flag, e in est.items():
        for pct in (50, 95, 99):
            rel = abs(e[f"hdr_p{pct}"] - exact[flag][f"p{pct}"]) / exact[flag][f"p{pct}"]
            assert rel <= 0.07, (flag, pct, e[f"hdr_p{pct}"], exact[flag][f"p{pct}"])


def test_hdr_quantiles_exact_small_values(spark):
    """Values whose cents fit in the mantissa bits get single-integer
    buckets: the sketch is EXACT there (no midpoint smearing)."""
    from world_cup_duckdb_spark.operators.sketch import hdr_quantiles

    df = spark.createDataFrame(
        [("g", 0.01), ("g", 0.05), ("g", 0.10), ("g", 0.15)],
        "g string, v double",
    )
    row = hdr_quantiles(df, "v", ["g"], quantiles=[0.5]).collect()[0]
    # cents 1,5,10,15: p50 rank = ceil(0.5*4) = 2nd value = 5 cents; the
    # 15-cent bucket (bin length 4 = mantissa) is still exact.
    assert row["n"] == 4 and row["hdr_p50"] == 0.05


def test_hdr_quantiles_counts_zero_values(spark):
    """Zeros fixed-point to c=0 and land in the exact [0,1) bucket —
    they must be COUNTED (n and quantile ranks include them), not
    silently dropped from the population."""
    from world_cup_duckdb_spark.operators.sketch import hdr_quantiles

    df = spark.createDataFrame(
        [("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 0.01)],
        "g string, v double",
    )
    row = hdr_quantiles(df, "v", ["g"], quantiles=[0.5]).collect()[0]
    # p50 rank = ceil(0.5*4) = 2nd value = 0.0; n counts all four rows.
    assert row["n"] == 4 and row["hdr_p50"] == 0.0


def test_minhash_accuracy_identical_pairs_are_calibrated(spark, sf_dir):
    """Re-crawl copies are exact duplicates: every (doc, doc+1M) pair the
    LSH surfaces must read est_jaccard = exact_jaccard = 1.0 — the
    calibration query's fixed point."""
    from world_cup_duckdb_spark.queries import REGISTRY

    rows = REGISTRY["ext_minhash_accuracy"].fn(spark, sf_dir).collect()
    recrawl = [r for r in rows if r["doc_b"] == r["doc_a"] + 1_000_000]
    assert recrawl, "LSH must recover the identical re-crawl pairs"
    assert all(
        r["est_jaccard"] == 1.0 and r["exact_jaccard"] == 1.0 for r in recrawl
    )


def test_hdr_quantiles_sketch_is_mergeable(spark, sf_dir):
    """The 100 TB property claimed for the HDR sketch: bucket-count
    partials computed INDEPENDENTLY per shard, merged by summing counts
    per bucket, must yield the same quantile estimates as one pass over
    the whole data. This is the store-daily-partials /
    reaggregate-any-range pattern, exercised through the real merge
    path (hdr_bucket_counts per shard → union → groupBy-sum →
    hdr_quantiles_from_buckets), not just a union of rows."""
    from world_cup_duckdb_spark.operators.sketch import (
        hdr_bucket_counts,
        hdr_quantiles,
        hdr_quantiles_from_buckets,
    )
    from world_cup_duckdb_spark.sources.catalog import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey"
    )
    whole = hdr_quantiles(li, "l_extendedprice", ["l_returnflag"])
    parts = [
        hdr_bucket_counts(
            li.filter(F.col("l_orderkey") % 2 == m),
            "l_extendedprice",
            ["l_returnflag"],
        )
        for m in (0, 1)
    ]
    merged_counts = (
        parts[0]
        .unionByName(parts[1])
        .groupBy("l_returnflag", "_shift", "_sub")
        .agg(F.sum("_cnt").alias("_cnt"))
    )
    merged = hdr_quantiles_from_buckets(merged_counts, ["l_returnflag"])
    w = {r["l_returnflag"]: r.asDict() for r in whole.collect()}
    m = {r["l_returnflag"]: r.asDict() for r in merged.collect()}
    assert w == m and w


def test_distributed_rank_family_equals_global_windows(spark):
    """distributed_row_number / distributed_ntile / distributed_running_sum
    (the generalized surrogate_key_distributed decomposition, VERDICT r6
    item 4) must equal the single-task ANSI window forms exactly — on an
    adversarially partitioned input, for asc and desc orders, uneven
    NTILE splits (N % n != 0), and the exclusive running-sum frame."""
    import random

    from pyspark.sql import Window
    from world_cup_duckdb_spark.operators.relational import (
        distributed_ntile,
        distributed_row_number,
        distributed_running_sum,
    )

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(997)]
    df = spark.createDataFrame(rows, "id int, v int").repartition(13)
    order = [F.col("v").asc_nulls_last(), F.col("id").asc_nulls_last()]

    for n in (5, 3, 1000):  # 997 % 5 = 2, 997 % 3 = 1, n > N degenerate
        got = distributed_ntile(df, n, ["v", "id"], "t", n_ranges=7)
        exp = df.withColumn("t", F.ntile(n).over(Window.orderBy(*order)))
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0

    got = distributed_row_number(
        df, [F.desc("v"), "id"], "rn", n_ranges=7
    )
    exp = df.withColumn(
        "rn",
        F.row_number()
        .over(Window.orderBy(F.desc("v"), F.col("id").asc_nulls_last()))
        .cast("bigint"),
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    for inclusive, upper in ((True, 0), (False, -1)):
        got = distributed_running_sum(
            df,
            ["v", "id"],
            F.col("v").cast("bigint"),
            "rs",
            n_ranges=7,
            inclusive=inclusive,
        )
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, upper
        )
        exp = df.withColumn(
            "rs",
            F.coalesce(
                F.sum(F.col("v").cast("bigint")).over(w),
                F.lit(0).cast("bigint"),
            ),
        )
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


def test_distributed_rank_family_edge_shapes(spark):
    """Empty input yields empty output with the rank column present;
    ties over a NON-total order still give exact tile CENSUS (each tile's
    size matches ANSI NTILE's) even though within-tie assignment is
    arbitrary; a single-row relation ranks 1/tile 1/prefix 0."""
    from world_cup_duckdb_spark.operators.relational import (
        distributed_ntile,
        distributed_row_number,
        distributed_running_sum,
    )

    empty = spark.createDataFrame([], "id int, v int")
    out = distributed_ntile(empty, 4, ["v", "id"], "t", n_ranges=3)
    assert out.count() == 0 and "t" in out.columns

    # 10 rows, all the same key: everything lands in one range, and the
    # tile census must still be NTILE's 3/3/2/2 split.
    same = spark.createDataFrame([(i, 9) for i in range(10)], "id int, v int")
    census = (
        distributed_ntile(same, 4, ["v"], "t", n_ranges=5)
        .groupBy("t")
        .count()
        .collect()
    )
    assert {r["t"]: r["count"] for r in census} == {1: 3, 2: 3, 3: 2, 4: 2}

    one = spark.createDataFrame([(1, 5)], "id int, v int")
    assert distributed_row_number(one, ["v"], "rn").first()["rn"] == 1
    assert distributed_ntile(one, 7, ["v"], "t").first()["t"] == 1
    assert (
        distributed_running_sum(
            one, ["v"], F.col("v").cast("bigint"), "rs", inclusive=False
        ).first()["rs"]
        == 0
    )


def test_distributed_running_max_equals_global_window(spark):
    """distributed_running_max (the skyline's global frontier pass,
    VERDICT r7 item 5) must equal the single-task ANSI MAX OVER exactly —
    including NULL values (MAX skips them; an all-NULL/empty frame is
    NULL) and both frame bounds."""
    import random

    from pyspark.sql import Window
    from world_cup_duckdb_spark.operators.relational import (
        distributed_running_max,
    )

    rng = random.Random(11)
    rows = [
        (i, rng.randint(0, 40) if rng.random() > 0.15 else None)
        for i in range(499)
    ]
    df = spark.createDataFrame(rows, "id int, v int").repartition(9)
    order = [F.col("id").asc_nulls_last()]
    for inclusive, upper in ((True, 0), (False, -1)):
        got = distributed_running_max(
            df, ["id"], "v", "rm", n_ranges=6, inclusive=inclusive
        )
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, upper
        )
        exp = df.withColumn("rm", F.max("v").over(w))
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


def test_distributed_lead_equals_global_window(spark):
    """distributed_lead (the boundary-row handoff VERDICT r9 item 1b
    promised) must equal the single-task ANSI LEAD exactly — on
    adversarially partitioned input, multi-column leads, legitimately
    NULL next VALUES (must not be mistaken for partition boundaries),
    and the global last row (stays NULL)."""
    import random

    from pyspark.sql import Window
    from world_cup_duckdb_spark.operators.relational import distributed_lead

    rng = random.Random(13)
    rows = [
        (
            i,
            rng.randint(0, 60),
            None if rng.random() < 0.2 else f"s{rng.randint(0, 30)}",
        )
        for i in range(503)
    ]
    df = spark.createDataFrame(rows, "id int, v int, s string").repartition(11)
    got = distributed_lead(df, ["v", "id"], ["id", "s"], n_ranges=7)
    order = [F.col("v").asc_nulls_last(), F.col("id").asc_nulls_last()]
    w = Window.orderBy(*order)
    exp = df.select(
        "*",
        F.lead("id").over(w).alias("id_next"),
        F.lead("s").over(w).alias("s_next"),
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # single-row and empty relations: lead columns present, all NULL/none
    one = spark.createDataFrame([(1, 5, "a")], "id int, v int, s string")
    r = distributed_lead(one, ["v", "id"], ["id"]).first()
    assert r["id_next"] is None
    empty = spark.createDataFrame([], "id int, v int, s string")
    out = distributed_lead(empty, ["v", "id"], ["id"], n_ranges=3)
    assert out.count() == 0 and "id_next" in out.columns

    # reserved-name guard
    import pytest as _pytest

    clash = df.withColumn("id_next", F.lit(1))
    with _pytest.raises(ValueError):
        distributed_lead(clash, ["v", "id"], ["id"])


def test_skyline_monotone_adversarial_stays_distributed(spark):
    """VERDICT r7 item 5 fixture: strictly monotone (price, size) data is
    the skyline worst case — the per-partition staircase prunes NOTHING,
    so every distinct price reaches the global pass. The distributed
    running max must (a) return the full frontier (all rows are
    non-dominated), and (b) plan no data-grain single-task window — the
    only unpartitioned window runs over the <= n_ranges offset rows."""
    from world_cup_duckdb_spark.operators.relational import (
        distributed_running_max,
    )

    n = 5000
    df = spark.createDataFrame(
        [(float(i), i) for i in range(n)], "price double, size int"
    ).repartition(8)
    rm = distributed_running_max(df, ["price"], "size", "_m", n_ranges=8)
    sky = rm.filter(F.col("_m").isNull() | (F.col("size") > F.col("_m")))
    assert sky.count() == n  # monotone: every point is on the frontier
    p = rm._sc._jvm.PythonSQLUtils.explainString(
        rm._jdf.queryExecution(), "formatted"
    )
    for d in p.split(") Window")[1:]:
        head = d.split("\n\n")[0]
        assert "_pid" in head, head


def test_positional_join_pads_and_guards(spark):
    """positional_join: shorter side NULL-pads to the longer one
    (DuckDB POSITIONAL JOIN semantics) under explicit total orders;
    reserved/ambiguous column names are rejected loudly rather than
    silently mis-joining."""
    import pytest as _pytest

    from world_cup_duckdb_spark.operators.relational import positional_join

    left = spark.createDataFrame([(i, f"L{i}") for i in range(5)], "k int, l string")
    right = spark.createDataFrame([(i * 10,) for i in range(3)], "r int")
    out = positional_join(left, right, ["k"], ["r"]).orderBy("k").collect()
    assert [(o.k, o.l, o.r) for o in out] == [
        (0, "L0", 0), (1, "L1", 10), (2, "L2", 20),
        (3, "L3", None), (4, "L4", None),
    ]
    with _pytest.raises(ValueError, match="_pos"):
        positional_join(left.withColumnRenamed("l", "_pos"), right, ["k"], ["r"])
    with _pytest.raises(ValueError, match="ambiguous"):
        positional_join(left, right.withColumnRenamed("r", "k"), ["k"], ["k"])


def test_distributed_ops_reject_reserved_columns(spark):
    """ADVICE r8: the distributed_* decompositions add-then-drop internal
    scratch columns (_pid/_localmax/...); a pre-existing column with the
    same name would be silently overwritten — they must raise instead,
    matching positional_join's _pos guard."""
    import pytest as _pytest

    from world_cup_duckdb_spark.operators.relational import (
        distributed_row_number,
        distributed_running_max,
        distributed_running_sum,
    )

    base = spark.range(5).withColumn("v", F.col("id") * 2)
    for clash in ("_pid", "_localmax"):
        df = base.withColumn(clash, F.lit(1))
        with _pytest.raises(ValueError, match="reserved"):
            distributed_running_max(df, ["id"], "v")
    with _pytest.raises(ValueError, match="reserved"):
        distributed_running_sum(base.withColumn("_w", F.lit(1)), ["id"], "v")
    with _pytest.raises(ValueError, match="reserved"):
        distributed_row_number(base.withColumn("_total", F.lit(1)), ["id"])
    # clean inputs still work end-to-end
    got = distributed_running_max(base, ["id"], "v", "m", n_ranges=4)
    assert got.filter(F.col("id") == 4).collect()[0]["m"] == 6


def test_distributed_lead_edge_partitionings(spark):
    """distributed_lead must equal the ANSI window regardless of range
    count: n_ranges=1 (handoff never fires — everything is one
    partition), n_ranges >> rows (most partitions empty — the bounded
    LAG must skip them to find the true successor), and a heavily tied
    order key (ties land in one range by the range-partitioner
    contract, so adjacency never splits a tie group)."""
    from pyspark.sql import Window
    from world_cup_duckdb_spark.operators.relational import distributed_lead

    rows = [(i, i % 3) for i in range(41)]  # heavy ties on v
    df = spark.createDataFrame(rows, "id int, v int").repartition(7)
    order = [F.col("v").asc_nulls_last(), F.col("id").asc_nulls_last()]
    exp = df.select(
        "*", F.lead("id").over(Window.orderBy(*order)).alias("id_next")
    )
    for n_ranges in (1, 200, 5):
        got = distributed_lead(df, ["v", "id"], ["id"], n_ranges=n_ranges)
        assert got.exceptAll(exp).count() == 0, n_ranges
        assert exp.exceptAll(got).count() == 0, n_ranges

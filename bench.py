#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Rep policy: every rep of every query builds its plan through the
registry and writes it to the noop sink, so a rep times Python plan
construction, Catalyst and full execution together. The per-query
figure is the MIN over $BENCH_REPS reps (default 7) after one warm-up
rep. Timing excludes session startup and the first warm-up action
(JVM/codegen warm-up).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # Reference analytical surface (SURVEY §2.4/§2.7)
    "flagship",
    "op26_join_composite",
    "op28_self_join",
    "op43_hash_agg",
    "op44_distinct_agg",
    "op45_rank_window",
    "op46_analytic_window",
    "op47_topk",
    "op48_sort",
    "op49_rollup",
    # Training-data-pipeline extension surface (the 100 TB ops)
    "ext_dedup_minhash",
    "ext_sessionize_batch",
    "ext_ann_bruteforce",
    "ext_tfidf",
    "ext_quality_filter_pipeline",
    "ext_bloom_semijoin",
    # Round-6 flagship extension: the fused corpus-prep flow
    "ext_corpus_prep_pipeline",
]

#: Second tier, reported separately (extended_total) so the headline
#: total stays comparable round-over-round: representatives of the
#: round-9 retrieval/curation families. Same-box DuckDB pairs via
#: BENCH_QUERIES on scripts/bench_oracle.py.
EXTENDED = [
    "ext_url_dedup",
    "ext_hybrid_rrf",
    "ext_mmr_diversify",
    "ext_corpus_datacard",
    "ext_hapax_stats",
    # Round-10: sequence-level exact-substring dedup — data-sized on
    # both engines (corpus × shingles), so the pair is a real data race,
    # not a stage-launch floor.
    "ext_dup_span_extract",
    "ext_span_decontaminate",
]

#: Timing-policy tag embedded in the JSON payload, so artifacts measured
#: under different rep semantics cannot be compared silently. rebuild-v4:
#: every rep of every query builds its plan and executes it, as DuckDB
#: parses and plans its SQL in every rep of the oracle side.
METHODOLOGY = "rebuild-v4"

#: Post-suite settle: a run started right after a test suite inherits
#: its box state (r6 pairs: ~15-20% on the legacy-16 subtotal), so
#: before the JVM starts bench.py waits while the 1-minute load average
#: is above LOAD_GATE, for at most COOLDOWN_SEC seconds — an idle box
#: starts immediately. A run whose load is still above the
#: gate after the settle is labelled busy_box and gets BUSY_EXTRA_REPS
#: more reps, so the per-query MIN has enough draws to land a clean one.
COOLDOWN_SEC = 15
LOAD_GATE = 4.0
BUSY_EXTRA_REPS = 4


def loadavg() -> list:
    """The 1/5/15-minute load averages, or [] where the OS has none."""
    try:
        return [round(v, 2) for v in os.getloadavg()]
    except (AttributeError, OSError):
        return []


def selected(available) -> list:
    """$BENCH_QUERIES (comma-separated) if set, else HEADLINE, restricted
    to the keys in ``available``."""
    extra = os.environ.get("BENCH_QUERIES")
    return [n for n in (extra.split(",") if extra else HEADLINE) if n in available]


def session(app_name: str, sf_dir: str):
    """The bench session posture, shared by every script that times or
    explains the bench queries: local[$SPARK_GRAFT_CPUS] (default 32),
    shuffle partitions $SPARK_GRAFT_SHUFFLE (default 8), AQE off, and
    every table of ``sf_dir`` persisted in memory."""
    from world_cup_duckdb_spark import get_spark
    from world_cup_duckdb_spark.sources.catalog import warm_cache

    # AQE is off for this session only (the engine default keeps it on):
    # it runs every shuffle stage as a separate job so it can re-plan
    # between them, and with shuffle=8, statically broadcast dims and no
    # skew there is nothing to re-plan (r4, sf0.1, min of 7: core-10
    # total 3.42 s → 2.78 s).
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "8")
    spark = get_spark(
        app_name,
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"),
        extra_conf={
            "spark.sql.shuffle.partitions": shuffle,
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # The persisted, sliced tables give every query an in-memory columnar
    # scan spread over all cores — the buffer pool DuckDB gets from its
    # own caching (see catalog.warm_cache).
    warm_cache(spark, sf_dir)
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    for _ in range(COOLDOWN_SEC):
        if (loadavg() or [float("inf")])[0] <= LOAD_GATE:
            break
        time.sleep(1.0)
    # loadavg_before is the box-state signal; loadavg_after is confounded
    # by the bench's own burst and mainly dates the 5/15-min columns.
    la_before = loadavg()
    busy_box = bool(la_before) and la_before[0] > LOAD_GATE

    from world_cup_duckdb_spark.queries import REGISTRY

    spark = session("wcdbs-bench", sf_dir)
    # Warm-up action: JIT, codegen, filesystem metadata.
    REGISTRY["flagship"].fn(spark, sf_dir).count()

    # 7 reps: this box shows multi-second CPU-steal spikes at random; the
    # per-query MIN needs enough draws that at least one lands clean.
    reps = int(os.environ.get("BENCH_REPS", "7"))
    if busy_box:
        reps += BUSY_EXTRA_REPS

    build_sec: dict = {}

    def once(name: str) -> float:
        # Build and execution are timed together: stateful queries do
        # eager work at build time, which an execution-only timer would
        # let escape. build_sec keeps the first build time per query.
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        build_sec.setdefault(name, round(time.perf_counter() - t0, 3))
        # Materialize fully (count() alone could skip column evaluation;
        # write.noop forces every column of every row).
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def measure(qnames: list) -> dict:
        out: dict = {}
        for name in qnames:
            once(name)  # per-query warm-up: codegen compile, broadcast build
            # Min, not median: this box's noise is strictly additive
            # (CPU steal, GC pauses), so the minimum is the steady-state
            # estimate.
            out[name] = round(min(once(name) for _ in range(reps)), 3)
        return out

    timings = measure(selected(REGISTRY))
    # Extended tier: measured the same way, reported under separate keys
    # so `value` (the headline total) stays comparable round-over-round.
    # Skipped when BENCH_QUERIES pins an explicit set.
    ext_timings = measure(
        []
        if os.environ.get("BENCH_QUERIES")
        else [n for n in EXTENDED if n in REGISTRY]
    )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
    }
    if ext_timings:
        payload["extended_queries"] = ext_timings
        payload["extended_total"] = round(sum(ext_timings.values()), 3)
    payload.update(
        loadavg_before=la_before, loadavg_after=loadavg(), busy_box=busy_box,
        reps=reps, build_sec=build_sec, methodology=METHODOLOGY,
    )
    print(json.dumps(payload))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Per-stage wall breakdown of the heaviest bench queries (guide §1:
measure first, isolate with the noop sink). Runs on the bench session
(bench.session: warm cache, shuffle=8, AQE off), then times
labeled sub-plans of a query with the noop sink so the expensive piece
is identified before anything is changed. ``jobs`` prints the empty-job
floors, then each bench query's job count and codegen compiles
(``profile.codegen_stats``) for its first rep.

Usage: python scripts/profile_stages.py [corpus_prep|dedup_minhash|jobs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def profile_corpus_prep(spark, reps: int = 3) -> None:
    from pyspark.sql import functions as F

    from world_cup_duckdb_spark.operators.dedup import (
        connected_components,
        lsh_star_edges,
        minhash_bands,
        with_recrawl,
    )
    from world_cup_duckdb_spark.operators.text import stage_token_counts
    from world_cup_duckdb_spark.queries import (
        REGISTRY,
        release_tracked_persists,
        tracked_persist,
    )
    from world_cup_duckdb_spark.sources.catalog import load_tables

    sc = spark.sparkContext

    def once() -> dict:
        release_tracked_persists()
        out: dict = {}
        t_all = time.perf_counter()
        d = load_tables(spark, SF_DIR)["documents"]
        corpus = with_recrawl(d.select("doc_id", "text"))

        t0 = time.perf_counter()
        sc.setJobDescription("bands build+persist")
        bands = minhash_bands(corpus, num_hashes=8, band_size=2).transform(
            tracked_persist
        )
        bands.write.format("noop").mode("overwrite").save()
        out["bands_persist"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        sc.setJobDescription("star edges")
        edges = lsh_star_edges(bands)
        edges.write.format("noop").mode("overwrite").save()
        out["star_edges_over_persisted"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        sc.setJobDescription("connected components")
        clusters = connected_components(lsh_star_edges(bands))
        out["cc_build(jobs)"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        clusters.write.format("noop").mode("overwrite").save()
        out["cc_noop"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        sc.setJobDescription("token counts + quality")
        counted = stage_token_counts(corpus, keep=("doc_id",), langs=("en",))
        counted.write.format("noop").mode("overwrite").save()
        out["token_counts"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        sc.setJobDescription("full pipeline tail")
        full = REGISTRY["ext_corpus_prep_pipeline"].fn(spark, SF_DIR)
        out["full_build"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        full.write.format("noop").mode("overwrite").save()
        out["full_noop"] = time.perf_counter() - t0
        out["full_total"] = time.perf_counter() - t_all
        sc.setJobDescription(None)
        return out

    once()  # warm-up
    runs = [once() for _ in range(reps)]
    keys = runs[0].keys()
    print("== ext_corpus_prep_pipeline stage breakdown (min of %d) ==" % reps)
    for k in keys:
        print(f"  {k:32s} {min(r[k] for r in runs):7.3f}s")


def profile_dedup_minhash(spark, reps: int = 3) -> None:
    from world_cup_duckdb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
        minhash_signatures,
        with_recrawl,
    )
    from world_cup_duckdb_spark.queries import (
        release_tracked_persists,
        tracked_persist,
    )
    from world_cup_duckdb_spark.sources.catalog import load_tables

    def once() -> dict:
        release_tracked_persists()
        out: dict = {}
        d = load_tables(spark, SF_DIR)["documents"].select("doc_id", "text")
        corpus = with_recrawl(d)
        t0 = time.perf_counter()
        sigs = minhash_signatures(corpus, num_hashes=8)
        sigs.write.format("noop").mode("overwrite").save()
        out["signatures_only"] = time.perf_counter() - t0

        release_tracked_persists()
        t0 = time.perf_counter()
        bands = minhash_bands(corpus, num_hashes=8, band_size=2).transform(
            tracked_persist
        )
        bands.write.format("noop").mode("overwrite").save()
        out["bands_persist"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        pairs = lsh_candidate_pairs(bands, max_bucket_size=64)
        pairs.write.format("noop").mode("overwrite").save()
        out["pairs_over_persisted"] = time.perf_counter() - t0
        out["query_total"] = out["bands_persist"] + out["pairs_over_persisted"]
        return out

    once()
    runs = [once() for _ in range(reps)]
    print("== ext_dedup_minhash stage breakdown (min of %d) ==" % reps)
    for k in runs[0]:
        print(f"  {k:32s} {min(r[k] for r in runs):7.3f}s")


def profile_job_floor(spark, reps: int = 11) -> None:
    """Empty-job / stage floors on this box (BASELINE r12 floor method)."""
    from pyspark.sql import functions as F

    one = spark.range(1)
    shuf = spark.range(100).groupBy((F.col("id") % 10).alias("k")).count()
    for label, df in [("empty_1stage", one), ("empty_2stage", shuf)]:
        noop(df)
        runs = sorted(noop(df) for _ in range(reps))
        print(f"  {label:32s} {runs[0]:7.3f}s")


def profile_query_jobs(spark) -> None:
    """Jobs and codegen compiles of one rep of each bench query."""
    import bench
    from world_cup_duckdb_spark.profile import codegen_stats
    from world_cup_duckdb_spark.queries import REGISTRY

    sc = spark.sparkContext
    for name in bench.selected(REGISTRY):
        sc.setJobGroup(name, name)
        before = codegen_stats(spark)
        noop(REGISTRY[name].fn(spark, SF_DIR))
        after = codegen_stats(spark)
        jobs = len(sc.statusTracker().getJobIdsForGroup(name) or [])
        print(f"  {name:32s} {jobs:3d} jobs {after.compiles - before.compiles:5d}"
              f" compiles {after.compile_ms - before.compile_ms:8.1f} ms")


def main() -> None:
    import bench

    spark = bench.session("wcdbs-profile", SF_DIR)
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which in ("corpus_prep", "all"):
        profile_corpus_prep(spark)
    if which in ("dedup_minhash", "all"):
        profile_dedup_minhash(spark)
    if which in ("jobs", "all"):
        print("== job/stage floors ==")
        profile_job_floor(spark)
        print("== jobs and codegen per query (first rep) ==")
        profile_query_jobs(spark)


if __name__ == "__main__":
    main()

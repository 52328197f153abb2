"""SparkSession factory tuned for this engine.

Replaces the reference's engine setup (`duckdb.connect` at
scripts/build_db.py:26-30 plus Polars defaults) with a single distributed
engine. Settings are chosen for correctness-vs-DuckDB comparison (UTC
session timezone) and for scale (AQE, Arrow, right-sized shuffle
parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # ~cores, not 200: local runs are over-parallelized otherwise. On a real
    # cluster this is overridden to ~2-3x total cores (or left to AQE
    # coalescing with a high initial value).
    "spark.sql.shuffle.partitions": "32",
    # AQE: runtime re-plan — coalesce small shuffle partitions, convert to
    # broadcast when a side turns out small, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning: when one join side is selectively
    # filtered, inject a bloom filter of its keys into the other side's
    # scan — at 100 TB this cuts the probe side's shuffle volume before it
    # happens (complements static/dynamic partition pruning).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for toPandas / pandas_udf boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # DuckDB timestamps are UTC-naive; pin the session so timestamp
    # semantics match the oracle byte-for-byte.
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark's
    # reader rejects natively; read as long and convert in the catalog
    # (sources/catalog.py truncates to microseconds, matching a DuckDB
    # CAST(ts AS TIMESTAMP)).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # This factory always builds local[...] masters: shuffle blocks never
    # cross a network and live in the page cache, so lz4 on the shuffle
    # path is pure CPU overhead. A cluster deployment passes extra_conf
    # to re-enable both.
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    # Generated-class cache (static, LRU; Spark's default is 100). The ten
    # interactive reference queries compile about 160 classes, so at 100 a
    # round-robin mix evicts each class before its next use and every pass
    # recompiles 94-127 of them (4 cores, sf0.01). At 1000 steady passes
    # compile 0-2, with room for AQE plan variants and table maintenance,
    # and metaspace stays bounded.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


#: Deployment-posture overrides for a REAL multi-executor cluster, passed
#: as ``get_spark(extra_conf=CLUSTER_PROFILE | {...})``. The local[...]
#: defaults above deliberately disable shuffle compression (blocks never
#: cross a network there); on a cluster that would be wrong — shuffle
#: bytes traverse NICs and executor disks, so lz4 pays for itself — and
#: shuffle parallelism must track total cluster cores, not one machine.
#:
#: Checkpoint durability note (operators/dedup.py:connected_components):
#: the engine's iterative operators cut lineage with
#: ``localCheckpoint`` — executor-local, NON-replicated blocks. On a
#: cluster, losing an executor mid-run discards its blocks and the
#: recompute must re-run THROUGH the lost round's whole lineage (or
#: fail if an upstream RDD is gone). For multi-hour CC runs set
#: ``spark.sparkContext.setCheckpointDir`` to reliable storage and use
#: ``checkpoint()`` at the same cut points instead — the extra write is
#: the insurance premium.
CLUSTER_PROFILE: dict[str, str] = {
    "spark.shuffle.compress": "true",
    "spark.shuffle.spill.compress": "true",
    # ~2-3x total executor cores; AQE coalesces the excess at runtime.
    "spark.sql.shuffle.partitions": "2000",
    # Executors are remote: cap in-flight fetch and favor larger scan
    # splits so a 100 TB table doesn't explode into tiny tasks.
    "spark.sql.files.maxPartitionBytes": "256m",
}


def build_conf(
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Resolve the effective session conf (defaults ← env ← extra_conf)
    without building a session — session confs are sticky per JVM, so
    this is also the only honestly testable surface for alternate
    deployment profiles (tests/ assert both the local posture and
    CLUSTER_PROFILE through it)."""
    conf = dict(_DEFAULTS)
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g")
    )
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "world_cup_duckdb_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (else all cores). Note that
    if a session already exists in this JVM, Spark returns it and static
    confs (master, driver memory) keep their original values. The same
    holds for ``spark.sql.codegen.cache.maxEntries``: it is static and
    read once per JVM, at the first codegen, so a session that already
    exists keeps its cache size.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in build_conf(extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

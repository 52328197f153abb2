"""Table catalog over the driver-generated parquet directories.

Reference parallel: the DuckDB catalog built by scripts/build_db.py (25
`CREATE OR REPLACE TABLE` sites, e.g. scripts/build_db.py:112-120) plus the
replacement-scan bridge that exposes Python-local frames to SQL
(scripts/build_db.py:72-83). In Spark one engine serves both roles: parquet
scans are DataFrames, and `createOrReplaceTempView` is the DF↔SQL bridge
(SURVEY.md §1.3).

Parquet is the at-rest format (columnar, like DuckDB storage): Catalyst
pushes projections and predicates into the scan, so `table(...).select(...)
.filter(...)` reads only the needed columns / row groups — the distributed
equivalent of the reference's manual positional-column CSV projection
(scripts/build_db.py:104-108).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor — on a
#: 1000-executor cluster these join sides must never shuffle.
BROADCAST_TABLES = frozenset({"region", "nation"})


#: DataFrame (logical-plan) cache keyed by (session, sf_dir, table).
#: Building a reader re-lists the path and re-reads parquet footers on the
#: driver (~150 ms/table); plans are immutable so reuse within a session
#: is free and saves ~1.5 s per query invocation. Keyed by applicationId
#: so a restarted session never sees stale plans.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table (OP02/OP03-equivalent: columnar scan, lazy plan).

    ``events.ts`` is TIMESTAMP(NANOS) parquet; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as nanos-since-epoch
    long and is normalized here to a microsecond TimestampType (integer
    ``div`` — a double division would lose precision above 2^53 ns).
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    # Calendar functions (hour, date_trunc, ...) follow the session
    # timezone in Spark but read naively by the DuckDB oracle; pin UTC at
    # runtime so results are caller-session independent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Runtime-settable; without it the TIMESTAMP(NANOS) scan throws
        # PARQUET_TYPE_ILLEGAL — set proactively so a caller-provided
        # session (the round driver's) needs no special build config.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # FLOOR division, not `div`: DuckDB's TIMESTAMP_NS→TIMESTAMP
            # cast floors, while `div` truncates toward zero — a 1 µs
            # divergence on every pre-1970 sub-µs timestamp.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr("(ts - ((ts % 1000 + 1000) % 1000)) div 1000")
                ),
            )
        elif isinstance(ts_type, T.TimestampNTZType):
            # timestamp[us] parquet with no zone: with the session pinned
            # UTC the cast is wall-clock identity, and downstream
            # unix_micros/window functions require TimestampType.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _PLAN_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables as lazy DataFrames, keyed by name."""
    return {t: table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the Spark SQL entry point
    (the role DuckDB replacement scans play in the reference, §3.1)."""
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t)


def _parquet_bytes(path: str) -> int:
    """Data bytes under ``path``, whether a single parquet file or a
    directory of part files (both are valid `spark.read.parquet` inputs —
    `scripts/scale_check.py` stages the directory layout). `getsize` on a
    directory returns the ~4 KB inode size, which would silently collapse
    the fact-table slice count to 1 and serialize per-row work."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
                if not f.startswith(("_", "."))
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def warm_cache(
    spark: SparkSession, sf_dir: str, slices: int | None = None
) -> dict[str, DataFrame]:
    """Persist every table in executor memory, sliced to the session's
    parallelism, and swap the sliced plans into the catalog cache so every
    subsequent `table()` call reuses them.

    Why: the small-SF fixtures pack a whole table into one parquet file
    (sf0.1 lineitem is 11 MB), so a plain scan yields 1-3 input splits and
    per-row work runs on 1-3 of the 32 local cores. A production dataset
    at the 100 TB design point has thousands of splits and never needs
    this; `warm_cache` is the single-file-local-mode equivalent of that
    many-split layout plus a warm buffer pool (which the DuckDB oracle in
    BASELINE.md gets from its own cache + the OS page cache).

    Slice policy per table role (measured at sf0.1, bench A/B):

    - `documents`/`embeddings` → full `slices`: downstream work is
      CPU-bound per row (shingling, md5, vector arithmetic), so idle
      cores are the bottleneck (minhash 2.8 s → 1.0 s).
    - fact tables → ~1 MB of parquet per slice, capped at `slices`: scans
      and partial aggregations parallelize, but high-cardinality
      aggregates (per-term, per-key) don't drown in per-partition partial
      hash tables (tfidf regressed 2× at a flat 32-way slice).
    - broadcast dims (BROADCAST_TABLES) unsliced: their joins never
      shuffle, and slicing a 25-row table only adds tasks.

    Job shape: the fixtures cache a few MB, so the warm-up's cost is
    Spark's per-job scheduling floor, not data. Each table's warm-up
    (`table()`, the slice decision, `persist()`, materialize) is one task
    of a pool of ``min(len(TABLES), slices)`` threads, so the tables' jobs
    overlap instead of queuing behind each other's driver round trips. The
    materializing action is a write to the `noop` sink: under AQE a
    `count()` adds a partial-aggregate exchange and a final job per table.
    The tasks run under `inheritable_thread_target`, so every job keeps
    the caller's job group, description and tags (a tracer or a canceller
    that targets the caller's group sees all of them). At sf0.001 a cold
    call runs 24 jobs (10 parquet schema reads, 8 single-job writes, and a
    shuffle-map job plus a final write for each sliced corpus), down from
    42 for the serial `count()` loop; a warm call runs none.

    A table counts as warmed when its catalog entry is persisted, so a
    caller that unpersists or drops entries gets them re-warmed on the
    next call, and a table that fails to warm leaves the others
    registered; the first failure is raised once every task has ended.
    """
    if slices is None:
        slices = spark.sparkContext.defaultParallelism
    app = spark.sparkContext.applicationId
    cpu_heavy = {"documents", "embeddings"}

    def warm(name: str) -> DataFrame:
        df = table(spark, sf_dir, name)
        # Idempotent re-warm: a persisted catalog entry is handed back as
        # is, not stacked under a fresh repartition+persist (each such
        # pass would pin another full in-memory copy — a storage-memory
        # leak per call).
        if df.is_cached:
            return df
        if name in cpu_heavy:
            n = slices
        elif name in BROADCAST_TABLES:
            n = 1
        else:
            bytes_ = _parquet_bytes(f"{sf_dir}/{name}.parquet")
            n = min(slices, max(1, -(-bytes_ // (1 << 20))))
        if n > 1 and df.rdd.getNumPartitions() < n:
            df = df.repartition(n)
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        # Each task writes only its own table's key, so the pool's tasks
        # share no entry of the plan cache.
        _PLAN_CACHE[(app, sf_dir, name)] = df
        return df

    with ThreadPoolExecutor(min(len(TABLES), slices)) as pool:
        warmed = list(pool.map(inheritable_thread_target(spark)(warm), TABLES))
    return dict(zip(TABLES, warmed))

"""Persist lifecycle (queries/__init__.py:tracked_persist): per-query
cached intermediates must not accumulate across registry invocations —
a long-lived driver session evaluates hundreds of queries back to back,
and a leaked InMemoryRelation per query churns executor storage memory.
The contract: entering any registered query releases every persist the
same thread's previous query tracked (tracking.py keeps one release list
per thread). The session-lived table cache (sources/catalog.py:warm_cache)
is pinned here too: its job shape, its job group, and its re-warm after a
caller drops the catalog entries."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from world_cup_duckdb_spark import tracking
from world_cup_duckdb_spark.queries import (
    REGISTRY,
    release_tracked_persists,
)
from world_cup_duckdb_spark.sources import catalog


def _tracked_frames() -> list[DataFrame]:
    """The DataFrames whose ``unpersist`` sits on this thread's list."""
    return [
        fn.__self__
        for fn in tracking._local.releasers
        if isinstance(getattr(fn, "__self__", None), DataFrame)
    ]


def test_next_query_entry_releases_previous_persists(spark, sf_dir):
    release_tracked_persists()
    # ext_lm_score persists its per-doc token relation for two consumers.
    df = REGISTRY["ext_lm_score"].fn(spark, sf_dir)
    df.count()
    tracked = _tracked_frames()
    assert tracked, "ext_lm_score no longer tracks a persist"
    assert all(t.storageLevel.useMemory for t in tracked)
    # entering the NEXT registered query releases them
    REGISTRY["op17_filter_eq"].fn(spark, sf_dir)
    assert not tracking._local.releasers
    assert all(not t.storageLevel.useMemory for t in tracked)


def test_other_thread_entry_keeps_persists(spark, sf_dir):
    """Two callers on one session: thread A entering a query must not
    release thread B's in-flight persists; only B's own next entry
    does."""
    from concurrent.futures import ThreadPoolExecutor

    def build_b():
        release_tracked_persists()
        REGISTRY["ext_lm_score"].fn(spark, sf_dir).count()
        return _tracked_frames()

    with ThreadPoolExecutor(1) as b, ThreadPoolExecutor(1) as a:
        tracked = b.submit(build_b).result()
        assert tracked, "ext_lm_score no longer tracks a persist"
        a.submit(REGISTRY["op17_filter_eq"].fn, spark, sf_dir).result()
        assert all(t.storageLevel.useMemory for t in tracked)
        b.submit(REGISTRY["op17_filter_eq"].fn, spark, sf_dir).result()
        assert all(not t.storageLevel.useMemory for t in tracked)
        assert not b.submit(lambda: tracking._local.releasers).result()
        a.submit(release_tracked_persists).result()


def test_release_is_idempotent_and_safe(spark, sf_dir):
    release_tracked_persists()
    release_tracked_persists()
    assert not tracking._local.releasers


def test_tracked_persist_release_is_thread_safe(spark):
    """ADVICE r6 item 3: concurrent builders on one session must get
    STRUCTURAL safety (no torn list, no double-unpersist crash). Hammer
    tracked_persist/release from several threads; the invariant is no
    exception, each thread seeing only its own persist, and an empty
    list on every thread."""
    import threading

    from world_cup_duckdb_spark.queries import tracked_persist

    errors = []
    sizes = []
    leftovers = []

    def worker(i):
        try:
            for _ in range(10):
                tracked_persist(spark.range(5).selectExpr(f"id + {i} as v"))
                sizes.append(len(tracking._local.releasers))
                release_tracked_persists()
            leftovers.extend(tracking._local.releasers)
        except Exception as ex:  # pragma: no cover - the failure signal
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    release_tracked_persists()
    assert errors == []
    assert sizes == [1] * 60
    assert leftovers == []
    assert not tracking._local.releasers


def test_ranged_offsets_checkpoint_blocks_release_with_query_scope(
    spark, sf_dir
):
    """ADVICE r7: _ranged_offsets localCheckpoints the ranged relation,
    and checkpoint blocks are invisible to DataFrame.unpersist — they
    used to live until JVM GC across the driver's multi-hundred-query
    loop. Now the operator registers a release callback (tracking.py)
    that the next registry query's entry runs. Pin: after materializing
    a distributed-window query, checkpoint RDD storage exists; after the
    next query entry it is gone."""
    release_tracked_persists()
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()

    def rdd_storage_count() -> int:
        return len(sc.getRDDStorageInfo())

    base = rdd_storage_count()
    df = REGISTRY["ext_corpus_deciles"].fn(spark, sf_dir)
    df.count()
    assert tracking._local.releasers, "no checkpoint releaser registered"
    assert rdd_storage_count() > base, "expected live checkpoint blocks"
    # entering the NEXT registered query releases the checkpoint blocks
    REGISTRY["op17_filter_eq"].fn(spark, sf_dir)
    assert not tracking._local.releasers
    assert rdd_storage_count() <= base


def test_ranged_private_release_handle_resolves(spark):
    """VERDICT r8 advisory 1, made explicit: _ranged frees its eager
    localCheckpoint blocks through a PRIVATE JVM path
    (``queryExecution().analyzed().rdd()``), try/except-guarded with a
    silent leak-until-GC fallback. This pin makes that degradation
    LOUD: if a Spark upgrade changes the analyzed-plan shape so the
    handle stops resolving, the releaser-count assertion fails here —
    before a long driver session discovers it as storage-memory churn.
    """
    from pyspark.sql import functions as F

    from world_cup_duckdb_spark.operators.relational import _ranged

    release_tracked_persists()
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    before_releasers = len(tracking._local.releasers)
    base = len(sc.getRDDStorageInfo())

    df = spark.range(1000).withColumn("v", F.col("id") % 13)
    _ranged(df, ["v", "id"], 4)  # eager localCheckpoint materializes now
    assert len(sc.getRDDStorageInfo()) > base, "no live checkpoint blocks"
    assert len(tracking._local.releasers) == before_releasers + 1, (
        "private JVM release path queryExecution().analyzed().rdd() no "
        "longer resolves — checkpoint blocks would silently leak until GC"
    )
    tracking.release_all()
    assert len(sc.getRDDStorageInfo()) <= base, "release hook did not free"


#: Spark jobs one cold warm_cache runs at sf0.001 (AQE on): one parquet
#: schema-inference job per table, one noop write per unsliced table, and
#: the shuffle-map job plus final write job of each of the two sliced
#: corpora. The serial per-table `count()` it replaced ran 42.
WARM_CACHE_MAX_JOBS = 24


@pytest.fixture
def cold_catalog(spark, sf_dir):
    """Drop this session's catalog entries before and after the test, so
    warm_cache starts cold and later tests see unsliced, unpersisted
    plans."""

    def drop():
        for name in catalog.TABLES:
            key = (spark.sparkContext.applicationId, sf_dir, name)
            df = catalog._PLAN_CACHE.pop(key, None)
            if df is not None:
                df.unpersist()

    drop()
    yield
    drop()


@pytest.mark.usefixtures("cold_catalog")
def test_warm_cache_swaps_sliced_plans_into_catalog(spark, sf_dir):
    """warm_cache must (a) hand back the same DataFrame objects that
    subsequent table() calls return (the catalog plan cache is swapped,
    so every registered query picks up the sliced, persisted plan),
    (b) slice CPU-heavy corpora to the session's parallelism, (c) leave
    broadcast dims unsliced, and (d) preserve schemas exactly."""
    before = {n: catalog.table(spark, sf_dir, n).schema for n in catalog.TABLES}
    warmed = catalog.warm_cache(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    for name, df in warmed.items():
        assert catalog.table(spark, sf_dir, name) is df
        assert df.schema == before[name]
        assert df.storageLevel.useMemory
    assert warmed["documents"].rdd.getNumPartitions() == target
    assert warmed["region"].rdd.getNumPartitions() == 1


@pytest.mark.usefixtures("cold_catalog")
def test_warm_cache_rewarms_after_catalog_entries_are_dropped(spark, sf_dir):
    """The plan cache is warm_cache's only record of what it warmed: after
    a caller unpersists and pops the entries, the next call warms fresh
    plans instead of looking up the popped keys."""
    app = spark.sparkContext.applicationId
    for name, df in catalog.warm_cache(spark, sf_dir).items():
        df.unpersist()
        catalog._PLAN_CACHE.pop((app, sf_dir, name))
    rewarmed = catalog.warm_cache(spark, sf_dir)
    for name, df in rewarmed.items():
        assert df.is_cached and df.storageLevel.useMemory
        assert catalog.table(spark, sf_dir, name) is df


@pytest.mark.usefixtures("cold_catalog")
def test_warm_cache_job_shape(spark, sf_dir):
    """Job-count pin for a cold warm_cache, plus the job group contract of
    its thread pool: every job started between two marker jobs belongs
    to the caller's group (no pool thread escapes it), and a second call
    runs no job and returns the same objects."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        return max(tracker.getJobIdsForGroup(group))

    first, second = "warm-cache-first", "warm-cache-second"
    try:
        start = marker("warm-cache-start")
        sc.setJobGroup(first, first)
        warmed = catalog.warm_cache(spark, sf_dir)
        end = marker("warm-cache-end")
        sc.setJobGroup(second, second)
        again = catalog.warm_cache(spark, sf_dir)
    finally:
        sc.setJobGroup("warm-cache-other", "warm-cache-other")
    jobs = set(tracker.getJobIdsForGroup(first))
    assert len(jobs) <= WARM_CACHE_MAX_JOBS, sorted(jobs)
    assert jobs == set(range(start + 1, end)), sorted(jobs)
    assert not tracker.getJobIdsForGroup(second)
    assert all(again[name] is df for name, df in warmed.items())

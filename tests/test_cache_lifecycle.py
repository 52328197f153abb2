"""Persist lifecycle (queries/__init__.py:tracked_persist): per-query
cached intermediates must not accumulate across registry invocations —
a long-lived driver session evaluates hundreds of queries back to back,
and a leaked InMemoryRelation per query churns executor storage memory.
The contract: entering any registered query releases every persist the
same thread's previous query tracked (tracking.py keeps one release list
per thread)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from world_cup_duckdb_spark import tracking
from world_cup_duckdb_spark.queries import (
    REGISTRY,
    release_tracked_persists,
)


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

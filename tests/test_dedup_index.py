"""Persisted MinHash signature index lifecycle
(operators/dedup_index.py — VERDICT r10 item 5).

Value-level parity of the probe vs the single-batch DuckDB form is the
registered key ext_inc_dedup_index (parity suite + driver). Here:
append ≡ build-over-union, the delete/compact lifecycle, the layout and
job pins, and the crash windows of the lakehouse commits the index
goes through: a dir written but never committed, and a claimed commit
whose manifest was never published.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from world_cup_duckdb_spark.operators import lakehouse
from world_cup_duckdb_spark.operators.dedup_index import (
    minhash_index_append,
    minhash_index_compact,
    minhash_index_delete,
    minhash_index_persist,
    minhash_index_probe_dedup,
)
from world_cup_duckdb_spark.operators.lakehouse import (
    fsck,
    latest_version,
    read_table,
    recover_torn_commits,
    vacuum,
)
from world_cup_duckdb_spark.sources.catalog import table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    )


def _probe_rows(spark, path, delta):
    return sorted(
        tuple(r)
        for r in minhash_index_probe_dedup(spark, path, delta).collect()
    )


def _manifest(table_path):
    return lakehouse._snapshot(table_path)[1]


def _indexed_ids(spark, loc):
    return {
        r["doc_id"]
        for r in read_table(spark, os.path.join(loc, "bands"))
        .select("doc_id")
        .distinct()
        .collect()
    }


def _crash_before_publish(m):
    """The next lakehouse commit crashes after its dir is written and
    before anything is claimed or published."""

    def crash(*a, **k):
        raise OSError("simulated crash before commit")

    m.setattr(lakehouse, "_commit", crash)


def _crash_after_claim(m):
    """The next lakehouse commit crashes between claim and publication:
    its fsynced body and claim sidecar are on disk, its manifest is
    not."""

    def crash(path, version, dirs, mode, **kw):
        log = lakehouse._log_dir(path)
        body = {"version": version, "mode": mode, "dirs": dirs}
        body.update({k: v for k, v in kw.items() if v})
        with open(os.path.join(log, f"v{version}.json.tmp-crash"), "w") as f:
            json.dump(body, f)
        os.close(os.open(
            os.path.join(log, f"v{version}.json.claim"),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        ))
        raise OSError("simulated crash after claim")

    m.setattr(lakehouse, "_commit", crash)


def test_append_equals_full_build(spark, docs, tmp_path):
    """persist(half) + append(half) must probe identically to
    persist(full): appends change WHAT is indexed, never HOW."""
    delta = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")

    full = str(tmp_path / "full")
    minhash_index_persist(docs, full)

    inc = str(tmp_path / "inc")
    minhash_index_persist(docs.filter(F.col("doc_id") % 2 == 0), inc)
    minhash_index_append(spark, inc, docs.filter(F.col("doc_id") % 2 == 1))

    assert _probe_rows(spark, full, delta) == _probe_rows(spark, inc, delta)


def test_delete_mask_compact_and_crash_recovery(
    spark, docs, tmp_path, monkeypatch
):
    """Deletes are visible at probe time immediately (tombstone mask),
    compaction folds them into the data without changing results, and
    every commit state a crash can leave — a tombstone or compaction
    dir written but not committed, a claimed compaction with no
    manifest — keeps probes correct and the next cycle working."""
    loc = str(tmp_path / "ix")
    bands = os.path.join(loc, "bands")
    minhash_index_persist(docs, loc)
    delta = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")

    # Reference: an index built WITHOUT the victims.
    victims = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    ref = str(tmp_path / "ref")
    minhash_index_persist(
        docs.join(victims, "doc_id", "left_anti"), ref
    )
    expect = _probe_rows(spark, ref, delta)

    # Tombstone-masked probe equals the rebuilt-without-victims probe.
    minhash_index_delete(spark, loc, victims)
    assert _manifest(bands)["tombstones"]
    assert _probe_rows(spark, loc, delta) == expect

    # Compaction folds the tombstones in the same commit that swaps the
    # rewritten dirs; probe unchanged.
    affected = minhash_index_compact(spark, loc)
    assert affected != []
    assert _probe_rows(spark, loc, delta) == expect
    assert "tombstones" not in _manifest(bands)
    assert not any(v % 5 == 0 for v in _indexed_ids(spark, loc))
    v = latest_version(bands)

    # Crash: tombstone dir written, delete never committed — the delete
    # did not happen, and only an unreferenced dir is left.
    victims2 = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    with monkeypatch.context() as m:
        _crash_before_publish(m)
        with pytest.raises(OSError, match="simulated"):
            minhash_index_delete(spark, loc, victims2)
    assert latest_version(bands) == v
    assert _probe_rows(spark, loc, delta) == expect
    assert len(fsck(bands)["orphans"]) == 1

    # Crash: compaction dir written, never committed — the tombstones
    # stay pending and keep masking.
    minhash_index_delete(spark, loc, victims2)
    masked = _probe_rows(spark, loc, delta)
    assert masked != expect
    with monkeypatch.context() as m:
        _crash_before_publish(m)
        with pytest.raises(OSError, match="simulated"):
            minhash_index_compact(spark, loc)
    assert latest_version(bands) == v + 1
    assert _manifest(bands)["tombstones"]
    assert _probe_rows(spark, loc, delta) == masked

    # Crash: compaction claimed with a durable body, manifest never
    # published — recovery publishes the swap and the emptied
    # tombstone list together.
    with monkeypatch.context() as m:
        _crash_after_claim(m)
        with pytest.raises(OSError, match="simulated"):
            minhash_index_compact(spark, loc)
    assert _probe_rows(spark, loc, delta) == masked
    assert recover_torn_commits(bands)["rolled_forward"] == [v + 2]
    assert "tombstones" not in _manifest(bands)
    assert _probe_rows(spark, loc, delta) == masked
    assert not any(
        x % 7 == 3 or x % 5 == 0 for x in _indexed_ids(spark, loc)
    )
    # The two crashed writes are the only orphans; vacuum clears them.
    assert len(fsck(bands)["orphans"]) == 2
    vacuum(bands, keep_versions=1)
    assert fsck(bands) == {"missing": [], "orphans": []}
    assert _probe_rows(spark, loc, delta) == masked


def test_recover_never_strands_tombstones(spark, docs, tmp_path, monkeypatch):
    """ADVICE r11: an already-applied tombstone must never outlive the
    data swap — that state is indistinguishable from a pending delete,
    so a later append re-inserting the deleted doc_id would be silently
    masked by probes and destroyed by the next compact. The fold and
    the swap are one lakehouse commit, so every crash point of a
    compaction leaves the victim's rows AND its tombstone (before), or
    neither (after). Crash at both commit states, then re-insert the
    purged doc: the probe must find it and the next compact keep it."""
    loc = str(tmp_path / "ix")
    bands = os.path.join(loc, "bands")
    minhash_index_persist(docs, loc)
    victim = docs.orderBy("doc_id").limit(1)
    victim_id = victim.first()["doc_id"]
    minhash_index_delete(spark, loc, victim.select("doc_id"))

    for crash in (_crash_before_publish, _crash_after_claim):
        with monkeypatch.context() as m:
            crash(m)
            with pytest.raises(OSError, match="simulated"):
                minhash_index_compact(spark, loc)
        recover_torn_commits(bands)
        pending = bool(_manifest(bands).get("tombstones"))
        assert pending == (victim_id in _indexed_ids(spark, loc)), crash
    assert not pending  # the claimed compaction rolled forward

    # Next cycle: re-ingest the purged doc, then probe an exact copy of
    # it. A stranded tombstone would mask the re-inserted doc (probe
    # says unique).
    reinserted = docs.filter(F.col("doc_id") == victim_id)
    minhash_index_append(spark, loc, reinserted)
    recrawl = reinserted.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    rows = minhash_index_probe_dedup(spark, loc, recrawl).collect()
    assert len(rows) == 1 and rows[0]["is_dup"] is True
    assert rows[0]["canon_id"] == victim_id
    # And the next compact must not destroy the re-inserted doc.
    minhash_index_delete(
        spark, loc, docs.filter(F.col("doc_id") == victim_id + 1).select("doc_id")
    )
    minhash_index_compact(spark, loc)
    rows2 = minhash_index_probe_dedup(spark, loc, recrawl).collect()
    assert len(rows2) == 1 and rows2[0]["is_dup"] is True


def test_multibatch_verdicts_survive_lineage_recompute(spark, docs, tmp_path):
    """VERDICT r11 item 2: per-batch verdicts in the probe-then-append
    cycle must be durable against lineage recomputation — a probe
    recomputed AFTER its batch was appended sees itself on the index
    side and flips every doc to dup-of-itself. The reliable parquet
    sink makes the read-back depend only on written files: unpersist
    everything, clear the cache, re-collect — the verdicts must be
    byte-stable and must NOT equal the post-append re-probe."""
    loc = str(tmp_path / "mb-ix")
    minhash_index_persist(docs.filter(F.col("doc_id") % 2 == 0), loc)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    verdicts = os.path.join(loc, "verdicts")
    minhash_index_probe_dedup(spark, loc, batch).write.parquet(verdicts)
    out = spark.read.parquet(verdicts)
    before = sorted(tuple(r) for r in out.collect())

    minhash_index_append(spark, loc, batch)  # the mutation

    spark.catalog.clearCache()  # kill any cached lineage state
    after = sorted(tuple(r) for r in out.collect())
    assert after == before  # durable: read-back unaffected by the append

    # The hazard is real: a recomputed probe WOULD differ (every batch
    # doc now collides with its own appended signature).
    reprobe = sorted(
        tuple(r)
        for r in minhash_index_probe_dedup(spark, loc, batch).collect()
    )
    assert reprobe != before
    # Read-back is a pure file scan — no banding stages to recompute.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()


def test_gram_index_compact_lifecycle(spark, docs, tmp_path, monkeypatch):
    """VERDICT r11 item 4 + ADVICE r11 (medium): batch-distinct appends
    accumulate cross-batch duplicate gram rows; the probe must stay
    set-semantic anyway (left-semi join), and gram_index_compact must
    fold the duplicates out in one overwrite commit without changing
    any probe answer, whatever commit state a crash leaves."""
    from world_cup_duckdb_spark.operators.dedup_index import (
        gram_index_append,
        gram_index_compact,
        gram_index_persist,
        gram_index_probe_hits,
    )
    from world_cup_duckdb_spark.queries.ext_dedup import _grams

    base = docs.select("doc_id", F.split("text", " ").alias("l"))
    ev = base.filter(F.col("doc_id") % 17 == 0)
    corpus = _grams(base.filter(F.col("doc_id") % 17 != 0))

    loc = str(tmp_path / "gix")
    ev_grams = _grams(ev)
    gram_index_persist(ev_grams, loc)
    expect = sorted(
        tuple(r) for r in gram_index_probe_hits(spark, loc, corpus).collect()
    )
    assert expect

    # Append the SAME gram set twice: worst-case cross-batch overlap.
    gram_index_append(ev_grams, loc)
    gram_index_append(ev_grams, loc)
    ix_path = os.path.join(loc, "grams")
    n_dup = read_table(spark, ix_path).count()
    n_set = read_table(spark, ix_path).distinct().count()
    assert n_dup == 3 * n_set  # duplicates really are on disk
    # Set-semantic probe: identical hits despite triplicated grams —
    # an inner join would emit each hit three times (ADVICE r11).
    got = sorted(
        tuple(r) for r in gram_index_probe_hits(spark, loc, corpus).collect()
    )
    assert got == expect

    # Compact folds the duplicates; probe unchanged; on-disk rows shrink.
    gram_index_compact(spark, loc)
    assert read_table(spark, ix_path).count() == n_set
    assert len(_manifest(ix_path)["dirs"]) == 1
    got2 = sorted(
        tuple(r) for r in gram_index_probe_hits(spark, loc, corpus).collect()
    )
    assert got2 == expect

    # Crash windows: a compaction dir written but never committed, then
    # a claimed compaction whose manifest was never published. Readers
    # keep the old snapshot until recovery publishes the compacted one.
    gram_index_append(ev_grams, loc)
    v = latest_version(ix_path)
    for crash in (_crash_before_publish, _crash_after_claim):
        with monkeypatch.context() as m:
            crash(m)
            with pytest.raises(OSError, match="simulated"):
                gram_index_compact(spark, loc)
        assert latest_version(ix_path) == v
        assert read_table(spark, ix_path).count() == 2 * n_set
        got3 = sorted(
            tuple(r)
            for r in gram_index_probe_hits(spark, loc, corpus).collect()
        )
        assert got3 == expect
    assert recover_torn_commits(ix_path)["rolled_forward"] == [v + 1]
    assert read_table(spark, ix_path).count() == n_set
    got4 = sorted(
        tuple(r) for r in gram_index_probe_hits(spark, loc, corpus).collect()
    )
    assert got4 == expect
    assert len(fsck(ix_path)["orphans"]) == 1  # the unclaimed crash's dir


def test_stats_reflect_lifecycle(spark, docs, tmp_path):
    """minhash_index_stats must report the tombstone-MASKED view at
    every lifecycle point: fresh index → no pending/masked; after
    delete → live shrinks by exactly the masked docs while pending and
    masked go positive; after compact → pending/masked reset to zero
    with live counts unchanged (compaction changes storage, not the
    probed set)."""
    from world_cup_duckdb_spark.operators.dedup_index import (
        minhash_index_stats,
    )

    loc = str(tmp_path / "stats-ix")
    minhash_index_persist(docs, loc)
    s0 = minhash_index_stats(spark, loc).first()
    assert s0["pending_tombstones"] == 0 and s0["masked_band_rows"] == 0
    assert s0["live_docs"] > 0 and s0["live_band_rows"] > 0

    victims = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    n_victims_with_bands = (
        read_table(spark, os.path.join(loc, "bands"))
        .join(victims, "doc_id", "left_semi")
        .select("doc_id")
        .distinct()
        .count()
    )
    minhash_index_delete(spark, loc, victims)
    s1 = minhash_index_stats(spark, loc).first()
    assert s1["pending_tombstones"] == victims.count()  # requested ids
    assert s1["masked_band_rows"] > 0
    assert s1["live_docs"] == s0["live_docs"] - n_victims_with_bands
    assert s1["live_band_rows"] == s0["live_band_rows"] - s1["masked_band_rows"]

    minhash_index_compact(spark, loc)
    s2 = minhash_index_stats(spark, loc).first()
    assert s2["pending_tombstones"] == 0 and s2["masked_band_rows"] == 0
    assert (s2["live_docs"], s2["live_band_rows"]) == (
        s1["live_docs"],
        s1["live_band_rows"],
    )


def test_probe_edge_inputs(spark, docs, tmp_path):
    """Contract corners: an empty delta probes to an empty result (not
    an error), and a delta doc too short to produce any 3-word shingle
    is ABSENT from the result rather than misreported — its band keys
    are null, null keys never equi-join, and the DuckDB twin drops the
    doc the same way (its unnest of an empty shingle list yields no
    band rows at all). Same edge semantics as the batch MinHash key."""
    loc = str(tmp_path / "edge-ix")
    minhash_index_persist(docs, loc)

    empty = docs.filter(F.lit(False)).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    assert minhash_index_probe_dedup(spark, loc, empty).count() == 0

    first_text = docs.select("text").first()["text"]
    delta = spark.createDataFrame(
        [(2_000_001, "just two"), (2_000_002, first_text)],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in minhash_index_probe_dedup(spark, loc, delta).collect()
    }
    assert 2_000_001 not in rows  # sub-shingle-width doc: no verdict
    assert rows[2_000_002]["is_dup"] is True  # exact copy of a corpus doc


def test_probe_plan_has_no_pair_join(spark, docs, tmp_path):
    """The probe must never emit candidate PAIRS: its physical plan
    joins band rows only against the per-bucket min summary — assert
    no join output column set carries two doc-id-like sides at the
    band grain by pinning the aggregate-before-join shape: exactly two
    HashAggregate pairs (bucket reduction + per-doc min) downstream of
    the index scan, and every join is either the broadcast semi filter
    or the summary equi-join."""
    loc = str(tmp_path / "plan-ix")
    minhash_index_persist(docs, loc)
    delta = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    out = minhash_index_probe_dedup(spark, loc, delta)
    plan = out._jdf.queryExecution().toString()
    # No SortMergeJoin / shuffled hash join between two band-grain
    # relations: the only non-broadcast join key set allowed is
    # (band, band_key) against the AGGREGATED summary.
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # the index-scan kill filter survives


def test_gram_index_append_equals_full(spark, docs, tmp_path):
    """gram_index_persist(half) + gram_index_append(half) probes
    identically to a one-shot persist over the union — appends extend
    WHAT is indexed (set semantics survive cross-batch duplicate gram
    rows because the probe is a semi-join)."""
    from pyspark.sql import functions as F  # noqa: F811

    from world_cup_duckdb_spark.operators.dedup_index import (
        gram_index_append,
        gram_index_persist,
        gram_index_probe_hits,
    )
    from world_cup_duckdb_spark.queries.ext_dedup import _grams

    base = docs.select("doc_id", F.split("text", " ").alias("l"))
    ev = base.filter(F.col("doc_id") % 17 == 0)
    corpus = _grams(base.filter(F.col("doc_id") % 17 != 0))

    full = str(tmp_path / "gfull")
    gram_index_persist(_grams(ev), full)

    inc = str(tmp_path / "ginc")
    gram_index_persist(_grams(ev.filter(F.col("doc_id") % 2 == 0)), inc)
    gram_index_append(_grams(ev.filter(F.col("doc_id") % 2 == 1)), inc)

    a = sorted(
        tuple(r) for r in gram_index_probe_hits(spark, full, corpus).collect()
    )
    b = sorted(
        tuple(r) for r in gram_index_probe_hits(spark, inc, corpus).collect()
    )
    assert a == b and a


def test_layout_stays_small_and_fsck_clean(spark, docs, tmp_path):
    """Layout pin: persist plus three (append, delete, compact) cycles
    leave the index snapshot at a handful of data files — the old
    hive-bucketed layout spread every write over 64 bucket dirs and
    held hundreds — and fsck on <index>/bands is clean after each
    cycle. The probe still equals a rebuild over the live docs."""
    loc = str(tmp_path / "layout-ix")
    bands = os.path.join(loc, "bands")
    minhash_index_persist(docs.filter(F.col("doc_id") % 4 == 0), loc)
    dead = F.lit(False)
    for k in (1, 2, 3):
        minhash_index_append(spark, loc, docs.filter(F.col("doc_id") % 4 == k))
        gone = (F.col("doc_id") % 4 < k) & (F.col("doc_id") % 11 == k)
        minhash_index_delete(spark, loc, docs.filter(gone).select("doc_id"))
        dead = dead | gone
        assert minhash_index_compact(spark, loc) != []
        assert fsck(bands) == {"missing": [], "orphans": []}
    m = _manifest(bands)
    assert "tombstones" not in m
    files = [
        f
        for d in m["dirs"]
        for f in os.listdir(os.path.join(bands, d))
        if f.endswith(".parquet")
    ]
    assert 1 <= len(files) <= 12, files
    assert not [e for e in os.listdir(bands) if e.startswith("bucket=")]

    ref = str(tmp_path / "layout-ref")
    minhash_index_persist(docs.filter(~dead), ref)
    delta = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    assert _probe_rows(spark, loc, delta) == _probe_rows(spark, ref, delta)


def test_probe_and_stats_build_run_no_jobs(spark, docs, tmp_path):
    """Building a probe or stats DataFrame resolves one manifest and
    scans its dirs with the recorded schema: no listing, schema-inference
    or existence-probe job runs at call time (job group count, the
    tests/test_plans.py pattern)."""
    from world_cup_duckdb_spark.operators.dedup_index import (
        minhash_index_stats,
    )

    loc = str(tmp_path / "jobs-ix")
    minhash_index_persist(docs, loc)
    minhash_index_delete(
        spark, loc, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    delta = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    sc = spark.sparkContext
    for name, build in (
        ("probe", lambda: minhash_index_probe_dedup(spark, loc, delta)),
        ("stats", lambda: minhash_index_stats(spark, loc)),
    ):
        group = f"dedup-index-jobpin-{name}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setJobGroup("dedup-index-jobpin-other", "dedup-index-jobpin-other")
        assert not sc.statusTracker().getJobIdsForGroup(group), name


def test_vacuum_keeps_pending_tombstones(spark, docs, tmp_path):
    """vacuum(keep_versions=1) after an index delete keeps the pending
    tombstone dirs (the manifest references them), so probes still
    mask the deleted docs and fsck stays clean."""
    from world_cup_duckdb_spark.operators.dedup_index import (
        minhash_index_stats,
    )

    loc = str(tmp_path / "vac-ix")
    bands = os.path.join(loc, "bands")
    minhash_index_persist(docs, loc)
    delta = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    minhash_index_delete(
        spark, loc, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    masked = _probe_rows(spark, loc, delta)
    vacuum(bands, keep_versions=1)
    tombs = _manifest(bands)["tombstones"]
    assert all(os.path.isdir(os.path.join(bands, t)) for t in tombs)
    assert fsck(bands) == {"missing": [], "orphans": []}
    assert _probe_rows(spark, loc, delta) == masked
    assert minhash_index_stats(spark, loc).first()["pending_tombstones"] > 0

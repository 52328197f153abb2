"""Versioned-table layer tests: snapshot isolation, time travel, vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from world_cup_duckdb_spark.operators.lakehouse import (
    latest_version,
    read_table,
    table_history,
    vacuum,
    write_table,
)
from world_cup_duckdb_spark.sources.catalog import table


@pytest.fixture()
def nation(spark, sf_dir):
    return table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def test_append_versions_and_time_travel(spark, nation, tmp_path):
    path = str(tmp_path / "t")
    v0 = write_table(nation.filter(F.col("n_regionkey") < 2), path)
    v1 = write_table(nation.filter(F.col("n_regionkey") >= 2), path)
    assert (v0, v1) == (0, 1)
    want_v0 = nation.filter(F.col("n_regionkey") < 2).count()
    assert read_table(spark, path, version=0).count() == want_v0
    assert read_table(spark, path).count() == nation.count()
    assert [m["mode"] for m in table_history(path)] == ["append", "append"]


def test_overwrite_starts_fresh_set_but_keeps_history(spark, nation, tmp_path):
    path = str(tmp_path / "t")
    write_table(nation, path)
    write_table(nation.filter(F.col("n_regionkey") == 0), path, mode="overwrite")
    assert read_table(spark, path).count() == nation.filter(
        F.col("n_regionkey") == 0
    ).count()
    assert read_table(spark, path, version=0).count() == nation.count()


def test_snapshot_isolation_under_concurrent_append(spark, nation, tmp_path):
    # A reader that resolved its manifest BEFORE a concurrent commit
    # must keep seeing its snapshot.
    path = str(tmp_path / "t")
    write_table(nation.filter(F.col("n_regionkey") < 2), path)
    snapshot = read_table(spark, path)          # resolves v0's file list now
    before = snapshot.count()
    write_table(nation.filter(F.col("n_regionkey") >= 2), path)  # concurrent
    assert snapshot.count() == before            # unaffected by v1
    assert read_table(spark, path).count() > before


def test_vacuum_prunes_history_not_current(spark, nation, tmp_path):
    path = str(tmp_path / "t")
    write_table(nation, path)
    write_table(nation.filter(F.col("n_regionkey") == 0), path, mode="overwrite")
    removed = vacuum(path, keep_versions=1)
    assert removed, "overwritten data dir should be reclaimed"
    assert read_table(spark, path).count() == nation.filter(
        F.col("n_regionkey") == 0
    ).count()
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=0).count()


def test_commit_is_first_writer_wins(spark, nation, tmp_path):
    from world_cup_duckdb_spark.operators.lakehouse import _commit

    path = str(tmp_path / "t")
    write_table(nation, path)
    with pytest.raises(ValueError, match="already committed"):
        _commit(path, latest_version(path), ["data-zzz"], "append")


def test_merge_upserts_and_diff_reports_cdc(spark, nation, tmp_path):
    from world_cup_duckdb_spark.operators.lakehouse import (
        diff_versions,
        merge_table,
    )

    path = str(tmp_path / "t")
    write_table(nation, path)                                   # v0
    source = (
        nation.filter(F.col("n_regionkey") == 0)
        .withColumn("n_name", F.lower("n_name"))                # updates
        .unionByName(
            spark.createDataFrame(
                [(999, "atlantis", 0)],
                "n_nationkey int, n_name string, n_regionkey int",
            ).select("n_nationkey", "n_name", "n_regionkey")    # insert
        )
    )
    v1 = merge_table(spark, path, source, ["n_nationkey"])
    after = read_table(spark, path)
    assert after.count() == nation.count() + 1                  # one insert
    touched = after.filter(F.col("n_regionkey") == 0)
    assert all(r["n_name"] == r["n_name"].lower() for r in touched.collect())
    untouched = after.filter(F.col("n_regionkey") > 0)
    assert untouched.exceptAll(
        nation.filter(F.col("n_regionkey") > 0)
    ).count() == 0

    cdc = diff_versions(spark, path, 0, v1)
    n_updated = nation.filter(
        (F.col("n_regionkey") == 0) & (F.col("n_name") != F.lower("n_name"))
    ).count()
    assert cdc.filter(F.col("change") == "insert").count() == n_updated + 1
    assert cdc.filter(F.col("change") == "delete").count() == n_updated


def test_optimize_compacts_without_changing_rows(spark, nation, tmp_path):
    import glob

    from world_cup_duckdb_spark.operators.lakehouse import optimize_table

    path = str(tmp_path / "t")
    # many tiny appends → fragmented layout
    for rk in range(5):
        write_table(nation.filter(F.col("n_regionkey") == rk), path)
    before = read_table(spark, path)
    n_files_before = len(glob.glob(f"{path}/data-*/part-*.parquet"))
    v = optimize_table(spark, path, target_files=1)
    after = read_table(spark, path)
    n_files_live = len(
        glob.glob(f"{path}/data-{v:05d}-*/part-*.parquet")
    )
    assert after.count() == before.count()
    assert after.exceptAll(before).count() == 0
    assert n_files_live < n_files_before
    # pre-compaction snapshot still time-travelable
    assert read_table(spark, path, version=0).count() == nation.filter(
        F.col("n_regionkey") == 0
    ).count()


def test_fsck_detects_orphans_and_missing(spark, nation, tmp_path):
    import os
    import shutil

    from world_cup_duckdb_spark.operators.lakehouse import fsck

    path = str(tmp_path / "t")
    write_table(nation, path)
    assert fsck(path) == {"missing": [], "orphans": []}
    # orphan: a data dir no manifest references (torn write debris)
    os.makedirs(os.path.join(path, "data-99999-deadbeef"))
    # missing: delete a referenced dir behind the log's back
    live = [e for e in os.listdir(path)
            if e.startswith("data-") and "deadbeef" not in e][0]
    shutil.rmtree(os.path.join(path, live))
    report = fsck(path)
    assert report["orphans"] == ["data-99999-deadbeef"]
    assert report["missing"] == [live]


def test_zone_map_pruning_skips_dirs_losslessly(spark, nation, tmp_path):
    from world_cup_duckdb_spark.operators.lakehouse import (
        prune_dirs,
        read_table_pruned,
    )

    path = str(tmp_path / "t")
    # Four appends clustered by key range, each recording its zone map.
    for lo, hi in ((0, 5), (6, 11), (12, 17), (18, 24)):
        write_table(
            nation.filter(F.col("n_nationkey").between(lo, hi)),
            path,
            stats_cols=["n_nationkey"],
        )
    selected, every = prune_dirs(path, "n_nationkey", 7, 10)
    assert len(every) == 4 and len(selected) == 1
    got = read_table_pruned(spark, path, "n_nationkey", 7, 10)
    want = nation.filter(F.col("n_nationkey").between(7, 10))
    assert sorted(r.n_nationkey for r in got.collect()) == sorted(
        r.n_nationkey for r in want.collect()
    )
    # Straddling range overlaps two zones; empty range prunes everything.
    assert len(prune_dirs(path, "n_nationkey", 5, 6)[0]) == 2
    assert prune_dirs(path, "n_nationkey", 100, 200)[0] == []
    assert read_table_pruned(spark, path, "n_nationkey", 100, 200).count() == 0


def test_zone_maps_conservative_without_stats(spark, nation, tmp_path):
    from world_cup_duckdb_spark.operators.lakehouse import prune_dirs

    path = str(tmp_path / "t")
    write_table(nation.filter(F.col("n_nationkey") < 5), path)  # no stats
    write_table(
        nation.filter(F.col("n_nationkey") >= 5), path,
        stats_cols=["n_nationkey"],
    )
    # The statless dir must always be kept (skipping never filters).
    selected, every = prune_dirs(path, "n_nationkey", 20, 24)
    assert len(every) == 2 and len(selected) == 2


def test_restore_is_metadata_only_and_auditable(spark, nation, tmp_path):
    import os

    from world_cup_duckdb_spark.operators.lakehouse import restore_table

    path = str(tmp_path / "t")
    write_table(nation, path, stats_cols=["n_nationkey"])
    write_table(
        nation.filter(F.col("n_regionkey") == 0), path, mode="overwrite"
    )
    n_dirs_before = sum(1 for e in os.listdir(path) if e.startswith("data-"))
    v2 = restore_table(path, 0)
    # No data copied: same dirs on disk, new manifest references v0's set.
    assert sum(1 for e in os.listdir(path) if e.startswith("data-")) == n_dirs_before
    assert v2 == 2
    assert read_table(spark, path).count() == nation.count()
    hist = table_history(path)
    assert hist[-1]["meta"] == {"restored_from": 0}
    # Restored manifest carries the zone maps forward.
    from world_cup_duckdb_spark.operators.lakehouse import prune_dirs

    assert len(prune_dirs(path, "n_nationkey", 0, 24)[0]) == 1


def test_ivm_join_view_equals_full_recompute(spark, sf_dir):
    """The incrementally-maintained view must converge to the exact
    recompute of A ⋈ B after every CDC batch, and each refresh must add
    one atomic version to the view's history."""
    from world_cup_duckdb_spark.operators.ivm import maintain_join_view
    from world_cup_duckdb_spark.operators.lakehouse import (
        diff_versions,
        latest_version,
        read_table,
        write_table,
    )
    from world_cup_duckdb_spark.queries.lifecycle import _fresh_dir
    from pyspark.sql import functions as F

    loc_a = _fresh_dir("ivm_test_fact")
    loc_v = _fresh_dir("ivm_test_view")
    a = spark.createDataFrame(
        [(1, 10, 100.0), (2, 20, 200.0), (3, 10, 300.0), (4, 30, 400.0)],
        "k bigint, fk bigint, val double",
    )
    dim = spark.createDataFrame(
        [(10, "x"), (20, "y"), (30, "z")], "fk bigint, name string"
    )
    write_table(a, loc_a)
    write_table(a.join(dim, "fk").select("k", "fk", "val", "name"), loc_v)

    # batch: update k=1, delete k=2, insert k=5
    a1 = (
        read_table(spark, loc_a)
        .filter("k <> 2")
        .withColumn("val", F.when(F.col("k") == 1, 111.0).otherwise(F.col("val")))
        .unionByName(
            spark.createDataFrame([(5, 20, 500.0)], "k bigint, fk bigint, val double")
        )
    )
    write_table(a1, loc_a, mode="overwrite")
    maintain_join_view(
        spark, loc_v, diff_versions(spark, loc_a, 0, 1), dim,
        join_key="fk", pk=["k"],
    )
    got = {tuple(r) for r in read_table(spark, loc_v).collect()}
    want = {
        tuple(r)
        for r in read_table(spark, loc_a)
        .join(dim, "fk")
        .select("k", "fk", "val", "name")
        .collect()
    }
    assert got == want
    assert latest_version(loc_v) == 1


def _torn_commit_states():
    """Crash points of the sidecar (no-hardlink) commit protocol, as
    log-directory residue: (claim present?, tmp bodies present?)."""
    return [
        ("crash_after_tmp_before_claim", False, ["a"]),
        ("crash_after_claim_before_rename", True, ["a"]),
        ("crash_after_claim_retry_left_two_tmps", True, ["a", "b"]),
        ("crash_after_claim_tmp_lost", True, []),
    ]


@pytest.mark.parametrize(
    "label,claimed,tmps", _torn_commit_states(),
    ids=[s[0] for s in _torn_commit_states()],
)
def test_torn_commit_recovery_restores_writability(
    spark, nation, tmp_path, monkeypatch, label, claimed, tmps
):
    """Mid-commit crash/restart property of the O_EXCL-sidecar + rename
    protocol (ADVICE r4 fix): whatever residue a crash leaves, (a)
    readers never see a partial manifest — latest_version/read_table
    serve only fully published versions; (b) recover_torn_commits
    resolves the residue (roll forward when a durable body survived,
    roll back otherwise); (c) the table is writable again afterwards
    and fsck is clean."""
    import json
    import os

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        fsck,
        recover_torn_commits,
    )

    path = str(tmp_path / "t")
    write_table(nation.filter(F.col("n_regionkey") < 2), path)  # v0
    log = _log_dir(path)
    # fabricate the residue of a crashed commit of version 1 — the data
    # dir EXISTS (the crash hit after the parquet write, during the
    # manifest protocol); recovery now verifies referenced dirs exist
    # before publishing (ADVICE r6), so a body naming a missing dir is
    # a roll-back case (separate test below), not a roll-forward.
    torn = 1
    os.makedirs(os.path.join(path, "data-000001-x"))
    # Roll-forward validation requires a COMPLETE dir (ADVICE r7): the
    # fabricated crash here hit after the parquet job finished (marker
    # present), during the manifest protocol. The empty-dir case — crash
    # between mkdir and part writes — is a roll-back (test below).
    open(os.path.join(path, "data-000001-x", "_SUCCESS"), "w").close()
    body = {"version": torn, "mode": "append", "dirs": ["data-000001-x"]}
    for suffix in tmps:
        with open(os.path.join(log, f"v{torn}.json.tmp-{suffix}"), "w") as f:
            json.dump(body, f)
    if claimed:
        os.close(
            os.open(
                os.path.join(log, f"v{torn}.json.claim"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        )
    # (a) readers: the torn version is invisible
    assert latest_version(path) == 0
    assert read_table(spark, path).count() == nation.filter(
        F.col("n_regionkey") < 2
    ).count()
    # a claimed-but-unpublished version refuses new commits with the
    # torn-commit diagnosis instead of silently clobbering — on a
    # no-hardlink filesystem (the branch the claim protocol serves;
    # simulate by making link(2) fail with ENOTSUP)
    if claimed:
        import errno

        def no_link(*a, **k):
            raise OSError(errno.ENOTSUP, "hard links unsupported")

        with monkeypatch.context() as m:
            m.setattr(os, "link", no_link)
            with pytest.raises(ValueError, match="torn commit"):
                write_table(nation.filter(F.col("n_regionkey") >= 2), path)
    # (b) recovery resolves the residue
    report = recover_torn_commits(path)
    rolled_forward = claimed and bool(tmps)
    if rolled_forward:
        assert report["rolled_forward"] == [torn]
        assert latest_version(path) == torn
    else:
        assert report["rolled_forward"] == []
        assert latest_version(path) == 0
    # no tmp residue survives recovery
    assert not [e for e in os.listdir(log) if ".tmp-" in e]
    # swept losing bodies report their now-unreferenced data dirs as
    # orphans (ADVICE r6); dirs the rolled-forward winner references
    # are live, not orphans
    if label == "crash_after_tmp_before_claim":
        assert report["orphan_dirs"] == ["data-000001-x"]
    else:
        assert report["orphan_dirs"] == []
    # (c) the next commit succeeds and history reads clean end to end
    if rolled_forward:
        # the rolled-forward manifest's dir exists (recovery verified
        # it before publishing) — fsck stays clean on the manifest side
        assert fsck(path)["missing"] == []
    else:
        v = write_table(nation.filter(F.col("n_regionkey") >= 2), path)
        assert v == torn
        assert latest_version(path) == torn
        report2 = fsck(path)
        assert report2["missing"] == []
        # a REFUSED claimed-case commit attempt above left its data dir
        # behind, and the fabricated crash's data dir is unreferenced
        # after roll-back — precisely the torn-write residue fsck flags
        # as orphans for vacuum; nothing else may be orphaned
        assert len(report2["orphans"]) == (2 if claimed else 1)
        assert read_table(spark, path).count() == nation.count()


def test_recovery_is_noop_on_healthy_table(spark, nation, tmp_path):
    from world_cup_duckdb_spark.operators.lakehouse import (
        fsck,
        recover_torn_commits,
    )

    path = str(tmp_path / "t")
    write_table(nation, path)
    write_table(nation.filter(F.col("n_regionkey") == 0), path)
    assert recover_torn_commits(path) == {
        "rolled_forward": [],
        "rolled_back": [],
        "swept": [],
        "orphan_dirs": [],
    }
    assert latest_version(path) == 1
    assert fsck(path) == {"missing": [], "orphans": []}


def test_recovery_skips_partial_bodies_and_stray_claims(
    spark, nation, tmp_path
):
    """Review findings r6: (a) roll-forward must json-validate candidate
    bodies — a crash mid-write can leave a partial tmp lexicographically
    BEFORE the retry's complete fsynced body, and publishing the partial
    would wedge every later read; (b) a stray foreign *.json.claim file
    must not abort recovery."""
    import json
    import os

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        latest_version,
        recover_torn_commits,
    )

    path = str(tmp_path / "t")
    write_table(nation, path)  # v0
    log = _log_dir(path)
    # partial (invalid JSON) body sorts before the valid retry body
    with open(os.path.join(log, "v1.json.tmp-aaa"), "w") as f:
        f.write('{"version": 1, "mode": "appe')  # torn mid-write
    with open(os.path.join(log, "v1.json.tmp-bbb"), "w") as f:
        json.dump({"version": 1, "mode": "append", "dirs": []}, f)
    os.close(os.open(
        os.path.join(log, "v1.json.claim"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    ))
    # stray claim that is not commit residue
    with open(os.path.join(log, "backup.json.claim"), "w") as f:
        f.write("junk")
    report = recover_torn_commits(path)
    assert report["rolled_forward"] == [1]
    assert latest_version(path) == 1
    # the published manifest parses and identifies as v1
    with open(os.path.join(log, "v1.json")) as f:
        assert json.load(f)["version"] == 1
    # the partial body was swept, the stray claim left untouched
    assert not [e for e in os.listdir(log) if ".tmp-" in e]
    assert os.path.exists(os.path.join(log, "backup.json.claim"))


def test_recovery_rolls_back_when_only_partial_bodies_exist(
    spark, nation, tmp_path
):
    import json
    import os

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        latest_version,
        recover_torn_commits,
    )

    path = str(tmp_path / "t")
    write_table(nation, path)  # v0
    log = _log_dir(path)
    with open(os.path.join(log, "v1.json.tmp-aaa"), "w") as f:
        f.write("{not json")
    os.close(os.open(
        os.path.join(log, "v1.json.claim"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    ))
    report = recover_torn_commits(path)
    assert report["rolled_forward"] == []
    assert report["rolled_back"] == [1]
    assert latest_version(path) == 0
    # version 1 is writable again
    v = write_table(nation.filter(F.col("n_regionkey") == 0), path)
    assert v == 1


def test_recovery_rolls_back_body_referencing_missing_dirs(
    spark, nation, tmp_path
):
    """ADVICE r6: a durable, json-valid tmp body whose ``dirs`` point at
    directories that never finished writing must NOT be rolled forward —
    publishing it would pass recovery and break only at read time. It
    rolls back (claim removed, version writable again) and the sweep
    reports nothing live as orphaned."""
    import json
    import os

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        latest_version,
        recover_torn_commits,
    )

    path = str(tmp_path / "t")
    write_table(nation, path)  # v0
    log = _log_dir(path)
    with open(os.path.join(log, "v1.json.tmp-aaa"), "w") as f:
        json.dump(
            {"version": 1, "mode": "append", "dirs": ["data-00001-never"]},
            f,
        )
    os.close(os.open(
        os.path.join(log, "v1.json.claim"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    ))
    report = recover_torn_commits(path)
    assert report["rolled_forward"] == []
    assert report["rolled_back"] == [1]
    # the invalid body was swept; its dir doesn't exist, so nothing to
    # vacuum
    assert report["swept"] == ["v1.json.tmp-aaa"]
    assert report["orphan_dirs"] == []
    assert latest_version(path) == 0
    v = write_table(nation.filter(F.col("n_regionkey") == 0), path)
    assert v == 1


def test_recovery_rolls_back_body_referencing_empty_dir(
    spark, nation, tmp_path
):
    """ADVICE r7: a referenced data dir that EXISTS but is incomplete —
    the crash hit between mkdir and the part writes, so it holds no
    _SUCCESS marker and no *.parquet part — must not roll forward
    either; a bare isdir check would publish it and fail at read time.
    A dir with parquet parts but no marker (writer configured with
    mapreduce.fileoutputcommitter.marksuccessfuljobs=false) still
    qualifies as complete."""
    import json
    import os

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        latest_version,
        recover_torn_commits,
    )

    path = str(tmp_path / "t")
    write_table(nation, path)  # v0
    log = _log_dir(path)
    os.makedirs(os.path.join(path, "data-00001-empty"))
    with open(os.path.join(log, "v1.json.tmp-aaa"), "w") as f:
        json.dump(
            {"version": 1, "mode": "append", "dirs": ["data-00001-empty"]},
            f,
        )
    os.close(os.open(
        os.path.join(log, "v1.json.claim"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    ))
    report = recover_torn_commits(path)
    assert report["rolled_forward"] == []
    assert report["rolled_back"] == [1]
    assert latest_version(path) == 0
    # markerless-but-parted dir: completeness via *.parquet presence
    os.makedirs(os.path.join(path, "data-00002-parts"))
    open(
        os.path.join(path, "data-00002-parts", "part-0000.parquet"), "w"
    ).close()
    with open(os.path.join(log, "v1.json.tmp-bbb"), "w") as f:
        json.dump(
            {"version": 1, "mode": "append", "dirs": ["data-00002-parts"]},
            f,
        )
    os.close(os.open(
        os.path.join(log, "v1.json.claim"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    ))
    report2 = recover_torn_commits(path)
    assert report2["rolled_forward"] == [1]
    assert latest_version(path) == 1


def test_recovery_concurrent_writer_interleavings_property(
    spark, nation, tmp_path
):
    """VERDICT r6 item 8: property-style sweep of claim/retry/recover
    interleavings. Two writers race version 1; each may crash at any
    protocol step (tmp written / claim taken / renamed). For every
    reachable residue combination the invariants must hold:

    - at most one v1.json is ever published, and it parses as v1 with
      every referenced dir on disk;
    - recover_torn_commits never raises, leaves no tmp residue, and
      afterwards latest_version is 0 or 1;
    - the table accepts a fresh commit afterwards (writability is
      restored no matter the residue);
    - a second recovery pass is a strict no-op (idempotence).

    This is the 'restart guarantee is the only unsafe window' claim:
    every CRASHED-writer residue heals; only a still-in-flight writer
    (which recovery's contract excludes) could conflict."""
    import itertools
    import json
    import os
    import shutil

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        latest_version,
        recover_torn_commits,
    )

    base = str(tmp_path / "base")
    write_table(nation, base)  # v0 — cloned per scenario
    # writer crash points: how far each of the two writers got.
    # data_ok: whether its parquet dir finished before the crash.
    STEPS = ("none", "tmp", "claimed", "published")
    case_i = 0
    for w1, w2, d1, d2 in itertools.product(
        STEPS, STEPS, (True, False), (True, False)
    ):
        if w1 == "published" and w2 == "published":
            continue  # the claim/link protocol makes this unreachable
        # only one writer can hold the claim / publish
        if w1 in ("claimed", "published") and w2 in ("claimed", "published"):
            continue
        case_i += 1
        path = str(tmp_path / f"case{case_i}")
        shutil.copytree(base, path)
        log = _log_dir(path)

        def leave_residue(tag, step, data_ok):
            if step == "none":
                return
            d = f"data-00001-{tag}"
            if data_ok:
                os.makedirs(os.path.join(path, d))
            body = {"version": 1, "mode": "append", "dirs": [d]}
            tmp = os.path.join(log, f"v1.json.tmp-{tag}")
            with open(tmp, "w") as f:
                json.dump(body, f)
            if step == "tmp":
                return
            claim = os.path.join(log, "v1.json.claim")
            os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            if step == "published":
                os.rename(tmp, os.path.join(log, "v1.json"))

        leave_residue("aa", w1, d1)
        leave_residue("bb", w2, d2)

        report = recover_torn_commits(path)
        # no tmp residue ever survives
        assert not [e for e in os.listdir(log) if ".tmp-" in e], (
            w1, w2, d1, d2)
        # a published v1 must be valid: parses, right version, dirs exist
        if latest_version(path) == 1:
            with open(os.path.join(log, "v1.json")) as f:
                b = json.load(f)
            assert b["version"] == 1
            # pre-published manifests (writer reached "published" before
            # the crash) predate recovery's dir check and may reference
            # a torn dir — that's fsck's domain; manifests RECOVERY
            # published must have all dirs on disk
            if 1 in report["rolled_forward"]:
                assert all(
                    os.path.isdir(os.path.join(path, d)) for d in b["dirs"]
                ), (w1, w2, d1, d2)
        else:
            assert latest_version(path) == 0, (w1, w2, d1, d2)
        # idempotence: a second pass finds nothing to do
        again = recover_torn_commits(path)
        assert again["rolled_forward"] == [] and again["rolled_back"] == []
        assert again["swept"] == [], (w1, w2, d1, d2, again)
        # writability restored: the next version commits
        nxt = latest_version(path) + 1
        v = write_table(nation.filter(F.col("n_regionkey") == 0), path)
        assert v == nxt, (w1, w2, d1, d2)
    assert case_i >= 40  # the sweep actually enumerated the space


def test_delete_where_is_copy_on_write_and_idempotent(spark, nation, tmp_path):
    """delete_where (r8): only directories holding matches are
    rewritten — untouched dirs appear in the new manifest as the SAME
    directory names (kept by reference, zone maps intact); the
    pre-delete snapshot still time-travels; NULL predicates keep rows
    (SQL DELETE semantics); a no-match delete commits nothing."""
    import json
    import os

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        delete_where,
        latest_version,
        read_table,
        write_table,
    )

    path = str(tmp_path / "t")
    # four single-region appends with zone maps on the key
    for rk in range(4):
        write_table(
            nation.filter(F.col("n_regionkey") == rk),
            path,
            stats_cols=["n_nationkey"],
        )
    with open(os.path.join(_log_dir(path), "v3.json")) as f:
        before = json.load(f)
    n_before = read_table(spark, path).count()

    # delete rows of exactly one region: one dir rewritten, three kept
    victims = {
        r.n_nationkey
        for r in nation.filter(F.col("n_regionkey") == 2).collect()
    }
    v, report = delete_where(spark, path, F.col("n_regionkey") == 2)
    assert v == 4
    assert report["rows_deleted"] == len(victims) > 0
    # the region-2 dir held ONLY victims → no survivor dir is written
    assert report["dirs_rewritten"] == 1 and report["dirs_kept"] == 3
    with open(os.path.join(_log_dir(path), "v4.json")) as f:
        after = json.load(f)
    kept = [d for d in before["dirs"] if d in after["dirs"]]
    assert len(kept) == 3  # by-reference carry-over, same dir names
    # kept dirs keep their zone maps verbatim
    for d in kept:
        assert after["stats"][d] == before["stats"][d]
    now = read_table(spark, path)
    assert now.count() == n_before - len(victims)
    assert not {r.n_nationkey for r in now.collect()} & victims
    # pre-delete snapshot intact (time travel)
    assert read_table(spark, path, version=3).count() == n_before
    # NULL predicate keeps rows: a predicate NULL on every row = no-op
    v2, rep2 = delete_where(
        spark, path, F.when(F.lit(False), True).otherwise(F.lit(None))
    )
    assert rep2["rows_deleted"] == 0 and v2 == 4
    assert latest_version(path) == 4  # no-match delete committed nothing

    # partial-dir delete: survivors of the affected dir land in a NEW dir
    some = sorted(
        r.n_nationkey
        for r in nation.filter(F.col("n_regionkey") == 0).collect()
    )
    v3, rep3 = delete_where(
        spark, path, F.col("n_nationkey") == some[0]
    )
    assert v3 == 5 and rep3["rows_deleted"] == 1
    assert rep3["dirs_rewritten"] == 1 and rep3["dirs_kept"] == 2
    with open(os.path.join(_log_dir(path), "v5.json")) as f:
        m5 = json.load(f)
    assert len(m5["dirs"]) == 3  # 2 kept + 1 survivor dir
    # the survivor dir re-profiled the same zone column
    new_dirs = [d for d in m5["dirs"] if d not in after["dirs"]]
    assert len(new_dirs) == 1
    assert set(m5["stats"][new_dirs[0]]) == {"n_nationkey"}


def test_update_where_cow_selectivity_and_ansi_semantics(
    spark, nation, tmp_path
):
    """update_where (r8): directory-level CoW (only dirs with matches
    rewrite; others carry by reference), assignments evaluate against
    the PRE-update row (ANSI UPDATE — swap works), zone maps re-profile
    on the rewritten dir, no-match update commits nothing, unknown
    assignment columns fail loudly."""
    import json
    import os

    from world_cup_duckdb_spark.operators.lakehouse import (
        _log_dir,
        latest_version,
        read_table,
        update_where,
        write_table,
    )

    path = str(tmp_path / "t")
    for rk in range(4):
        write_table(
            nation.filter(F.col("n_regionkey") == rk),
            path,
            stats_cols=["n_nationkey"],
        )
    with open(os.path.join(_log_dir(path), "v3.json")) as f:
        before = json.load(f)
    # swap-style update confined to one region: n_nationkey += 100 AND
    # n_name gets the OLD key embedded — both must see pre-update values
    v, rep = update_where(
        spark,
        path,
        F.col("n_regionkey") == 1,
        {
            "n_nationkey": F.col("n_nationkey") + 100,
            "n_name": F.concat(
                F.col("n_name"), F.lit("#"), F.col("n_nationkey")
            ),
        },
    )
    assert v == 4 and rep["dirs_rewritten"] == 1 and rep["dirs_kept"] == 3
    with open(os.path.join(_log_dir(path), "v4.json")) as f:
        after = json.load(f)
    assert len([d for d in before["dirs"] if d in after["dirs"]]) == 3
    now = read_table(spark, path)
    touched = now.filter(F.col("n_regionkey") == 1).collect()
    assert rep["rows_updated"] == len(touched) > 0
    for r in touched:
        # name carries the OLD key; key moved by +100 — pre-update reads
        assert r.n_name.endswith(f"#{r.n_nationkey - 100}")
    # untouched rows identical
    assert (
        now.filter(F.col("n_regionkey") != 1)
        .exceptAll(nation.filter(F.col("n_regionkey") != 1))
        .count()
        == 0
    )
    # rewritten dir re-profiled: its zone must cover the shifted keys
    new_dirs = [d for d in after["dirs"] if d not in before["dirs"]]
    assert len(new_dirs) == 1
    mn, mx = after["stats"][new_dirs[0]]["n_nationkey"]
    assert mn >= 100 and mx >= 100
    # no-match update commits nothing
    v2, rep2 = update_where(
        spark, path, F.col("n_regionkey") == 99, {"n_name": F.lit("x")}
    )
    assert rep2["rows_updated"] == 0 and latest_version(path) == 4
    # unknown column fails loudly
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, path, F.lit(True), {"nope": F.lit(1)})


def test_update_where_lossy_cast_fails_loudly(spark, nation, tmp_path):
    """ADVICE r8: under Spark's default non-ANSI casts an incompatible
    assignment would silently write NULL into every matched row.
    update_where must raise BEFORE committing, leave the table at its
    pre-update version, and still accept a losslessly castable string."""
    from world_cup_duckdb_spark.operators.lakehouse import (
        latest_version,
        read_table,
        update_where,
        write_table,
    )

    path = str(tmp_path / "t")
    write_table(nation, path)
    with pytest.raises(ValueError, match="NULL matched rows"):
        update_where(
            spark,
            path,
            F.col("n_regionkey") == 1,
            {"n_nationkey": F.lit("not-a-number")},
        )
    assert latest_version(path) == 0  # nothing committed
    # a string that casts losslessly to INT is fine (validates, commits)
    v, rep = update_where(
        spark, path, F.col("n_nationkey") == 3, {"n_nationkey": F.lit("777")}
    )
    assert v == 1 and rep["rows_updated"] == 1
    assert (
        read_table(spark, path).filter(F.col("n_nationkey") == 777).count()
        == 1
    )
    # assigning literal NULL is legitimate (expression null, not a lossy
    # cast) and must NOT trip the guard
    v2, rep2 = update_where(
        spark,
        path,
        F.col("n_nationkey") == 777,
        {"n_name": F.lit(None).cast("string")},
    )
    assert v2 == 2 and rep2["rows_updated"] == 1


def test_affected_dirs_matches_root_relative_segment():
    """ADVICE r8: dir classification anchors on the path RELATIVE to the
    table root. A root that itself contains a segment equal to a
    data-dir name must not mark every dir affected."""
    from world_cup_duckdb_spark.operators.lakehouse import _affected_dirs

    dirs = ["data-00000-aa", "data-00001-bb"]
    root = "/tmp/data-00001-bb/table"  # adversarial nested layout
    hits = [{"_f": f"file:{root}/data-00000-aa/part-0.parquet"}]
    assert _affected_dirs(hits, dirs, root) == ["data-00000-aa"]
    # unanchorable file name (scheme mangling): falls back to the
    # over-matching substring test for that file only — over-rewrite,
    # never a missed one
    weird = [{"_f": "mangled://data-00001-bb/part-0.parquet"}]
    assert _affected_dirs(weird, dirs, root) == ["data-00001-bb"]


def test_lakehouse_rejects_uri_schemed_paths(spark):
    """URI-schemed paths must fail loudly (ADVICE r9 class): the layer's
    atomicity is POSIX rename and its probes are os.path — on a remote
    URI an existing table would silently read as EMPTY. Windows drive
    letters aside (not this platform), any scheme prefix is rejected at
    the _log_dir chokepoint every operation goes through."""
    import pytest as _pytest

    from world_cup_duckdb_spark.operators import lakehouse as lh

    for bad in ("hdfs://nn/t", "s3a://bucket/t", "file:/tmp/t"):
        with _pytest.raises(ValueError, match="bare local filesystem"):
            lh.latest_version(bad)
    # bare local paths pass (absent table reads as None, not an error)
    assert lh.latest_version("/tmp/definitely-absent-lakehouse-xyz") is None


def test_zone_map_describes_the_landed_rows(spark, tmp_path):
    """The zone map observed by the write job equals an independent
    min/max over the landed directory, for every tracked type: int,
    double, date, timestamp, string, an all-NULL column, and a
    nondeterministic rand() column (re-evaluating its plan would give
    other values). An empty frame still commits a readable directory
    with NULL bounds."""
    import os

    from world_cup_duckdb_spark.operators.lakehouse import _read_manifest

    cols = ["i", "d", "dt", "ts", "s", "nul", "r"]
    df = spark.range(0, 200, 1, 4).select(
        (F.col("id") * 7 % 101).cast("int").alias("i"),
        (F.col("id") / 3).alias("d"),
        F.expr("date_add(date'2024-01-01', cast(id as int))").alias("dt"),
        F.expr(
            "timestamp'2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, 0, "
            "cast(id as int), 0)"
        ).alias("ts"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit(None).cast("int").alias("nul"),
        F.rand().alias("r"),
    )
    path = str(tmp_path / "t")
    v = write_table(df, path, stats_cols=cols)
    (d,) = _read_manifest(path, v)["dirs"]
    zone = _read_manifest(path, v)["stats"][d]
    landed = spark.read.parquet(os.path.join(path, d))
    row = landed.agg(
        *[f(c).alias(f"{f.__name__}_{c}") for c in cols for f in (F.min, F.max)]
    ).collect()[0]

    def enc(v):  # the manifest's JSON encoding of one zone bound
        return v if v is None or isinstance(v, (int, float, str, bool)) else str(v)

    want = {c: [enc(row[f"min_{c}"]), enc(row[f"max_{c}"])] for c in cols}
    assert zone == want
    assert zone["dt"] == ["2024-01-01", "2024-07-18"]
    assert isinstance(zone["ts"][0], str)
    assert zone["nul"] == [None, None]

    v2 = write_table(df.limit(0), path, mode="overwrite", stats_cols=["i"])
    (d2,) = _read_manifest(path, v2)["dirs"]
    assert _read_manifest(path, v2)["stats"][d2] == {"i": [None, None]}
    assert read_table(spark, path).count() == 0
    assert read_table(spark, path).columns == cols


def test_merge_and_optimize_keep_zone_maps(spark, nation, tmp_path):
    """merge_table and optimize_table rewrite the whole snapshot; the new
    directory is profiled on the columns the old snapshot tracked, so a
    range outside every key still prunes to no directory."""
    from world_cup_duckdb_spark.operators.lakehouse import (
        _read_manifest,
        merge_table,
        optimize_table,
        prune_dirs,
    )

    path = str(tmp_path / "t")
    for rk in range(5):
        write_table(
            nation.filter(F.col("n_regionkey") == rk),
            path,
            stats_cols=["n_nationkey"],
        )
    source = nation.filter(F.col("n_regionkey") == 1).withColumn(
        "n_name", F.lower("n_name")
    )
    v = merge_table(spark, path, source, ["n_nationkey"])
    (d,) = _read_manifest(path, v)["dirs"]
    assert _read_manifest(path, v)["stats"][d] == {"n_nationkey": [0, 24]}
    assert prune_dirs(path, "n_nationkey", 100, 200)[0] == []
    v2 = optimize_table(spark, path)
    (d2,) = _read_manifest(path, v2)["dirs"]
    assert _read_manifest(path, v2)["stats"][d2] == {"n_nationkey": [0, 24]}
    assert prune_dirs(path, "n_nationkey", 100, 200)[0] == []
    assert prune_dirs(path, "n_nationkey", 3, 4)[0] == [d2]


def test_lakehouse_writer_job_counts(spark, nation, tmp_path):
    """Job-count pins for the lakehouse writers (statusTracker count per
    job group, as in tests/test_plans.py). The zone map and row count
    ride the write job, and the delete/update scope read reuses the
    snapshot schema: write_table with stats_cols runs 1 job, delete_where
    at most 4, update_where at most 6, merge_table at most 4 and
    optimize_table at most 3."""
    from world_cup_duckdb_spark.operators.lakehouse import (
        delete_where,
        merge_table,
        optimize_table,
        update_where,
    )

    sc = spark.sparkContext
    path = str(tmp_path / "t")
    parts = [nation.filter(F.col("n_regionkey") == rk) for rk in range(4)]
    source = parts[1].withColumn("n_name", F.lower("n_name"))
    jobs = {}

    def run(name, fn, *args, **kwargs):
        group = f"lakehouse-jobpin-{name}"
        sc.setJobGroup(group, group)
        try:
            fn(*args, **kwargs)
        finally:
            sc.setJobGroup("lakehouse-jobpin-other", "lakehouse-jobpin-other")
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group) or [])

    for rk, part in enumerate(parts):
        run(f"write{rk}", write_table, part, path, stats_cols=["n_nationkey"])
    run("delete", delete_where, spark, path, "n_nationkey = 3")
    run("update", update_where, spark, path, "n_nationkey = 5", {"n_name": "'x'"})
    run("merge", merge_table, spark, path, source, ["n_nationkey"])
    run("optimize", optimize_table, spark, path)
    assert all(jobs[f"write{rk}"] == 1 for rk in range(4)), jobs
    assert jobs["delete"] <= 4, jobs
    assert jobs["update"] <= 6, jobs
    assert jobs["merge"] <= 4, jobs
    assert jobs["optimize"] <= 3, jobs

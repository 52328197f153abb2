"""Minimal versioned table layer over parquet ("poor-man's lakehouse"):
manifest-listed snapshots with atomic commits, snapshot-isolated reads,
time travel, and vacuum.

Spark's file-based parquet tables have no multi-writer atomicity and no
history — a half-written directory is visible immediately, and overwrite
destroys the past. The standard open-table fix (Delta/Iceberg/Hudi) is a
TRANSACTION LOG: data files are immutable, and a tiny versioned manifest
names the files each snapshot comprises; commits are one atomic rename.
This module implements that core so the engine can demonstrate the
semantics without external table-format packages:

- `data-<version>-<uuid>/` immutable parquet directories, written once;
- `_log/v{N}.json` manifests, committed via temp-file + `os.rename`
  (atomic on POSIX) — a reader either sees a complete version or the
  previous one, never a partial write;
- readers resolve a manifest FIRST, then read exactly its file set:
  concurrent appends cannot tear a running query (snapshot isolation);
- `vacuum` deletes data dirs no LIVE manifest references — history
  pruning is an explicit, separate act, so time travel stays correct
  until the operator chooses retention.

Every writer commits through `_commit_write`: new rows land in one
directory whose row count and zone map the write job itself observes;
untouched directories carry over by reference with their zone maps.

At 100 TB the same design holds: manifests stay KB-sized (they list
directories, not rows), commits stay O(1), and data files are only ever
added or garbage-collected, never rewritten in place.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG = "_log"


def _require_local(path: str) -> None:
    """Fail LOUDLY on URI-schemed paths (same class as ADVICE r9's
    similarity-index finding): this layer's atomicity is POSIX rename
    and its probes are os.path — on ``hdfs://…`` or ``s3a://…`` the
    probe silently returns False, so an existing table would read as
    EMPTY with no error. The design ports to remote storage by swapping
    the os calls for the Hadoop FileSystem API (rename is atomic on
    HDFS; object stores need a log-store as Delta does) — until then,
    local paths only, including no ``file:`` prefix (os.path would
    treat it as a literal directory name)."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", path):
        raise ValueError(
            f"lakehouse tables require a bare local filesystem path, got "
            f"{path!r}; remote/URI-schemed storage needs the Hadoop "
            "FileSystem port described in operators/lakehouse.py"
        )


def _log_dir(path: str) -> str:
    _require_local(path)
    return os.path.join(path, _LOG)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"v{version}.json")


def latest_version(path: str) -> int | None:
    """Highest committed version, or None for an empty/absent table."""
    log = _log_dir(path)
    if not os.path.isdir(log):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(log)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def _commit(
    path: str,
    version: int,
    dirs: list[str],
    mode: str,
    meta: dict | None = None,
    stats: dict | None = None,
) -> None:
    """Atomically publish a manifest: write to a temp name, fsync, then
    hard-link into place — readers never observe a partial manifest, and
    the link doubles as the optimistic-concurrency claim (exactly one of
    any concurrent committers of the same version wins; losers get
    ``ValueError``).
    ``meta`` carries committer bookkeeping (e.g. a streaming batch id
    for exactly-once sinks); ``stats`` carries per-directory column
    zone maps for data skipping."""
    os.makedirs(_log_dir(path), exist_ok=True)
    target = _manifest_path(path, version)
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    body = {"version": version, "mode": mode, "dirs": dirs}
    if meta:
        body["meta"] = meta
    if stats:
        body["stats"] = stats
    with open(tmp, "w") as f:
        json.dump(body, f)
        f.flush()
        os.fsync(f.fileno())
    # Atomic version CLAIM, not check-then-rename: link(2) fails with
    # EEXIST when another committer already published this version, so
    # concurrent writers of version N race to exactly one winner — a
    # plain rename would silently clobber the earlier manifest (TOCTOU)
    # and orphan a commit that had already returned success.
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise ValueError(f"version {version} already committed")
    except OSError:
        # link(2) is unsupported on some filesystems (NFS without link,
        # overlay/object-store mounts → EPERM/ENOTSUP). Same exactly-one-
        # winner contract without hard links, in two atomic steps: the
        # version CLAIM is an O_CREAT|O_EXCL sidecar (never read as a
        # manifest — discovery matches v*.json only), and PUBLICATION is
        # os.rename of the already-fsynced tmp. Writing into the target
        # directly would let a reader open a half-written v{N}.json,
        # breaking the "readers never observe a partial manifest"
        # invariant this module documents.
        claim = target + ".claim"
        try:
            os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            if os.path.exists(target):
                raise ValueError(f"version {version} already committed")
            # Claim without manifest: the previous claimant crashed
            # between claim and publication (or is still in flight —
            # indistinguishable without leases). Refuse rather than
            # clobber; a restarted single writer resolves it explicitly.
            raise ValueError(
                f"version {version} claim exists without a published "
                f"manifest (torn commit) — run recover_torn_commits() "
                f"after confirming no committer is in flight"
            )
        os.rename(tmp, target)
        return
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def recover_torn_commits(path: str) -> dict:
    """Restart-time recovery for commits torn by a crash — ONLY safe
    under the restart guarantee (no committer currently in flight; the
    in-flight and crashed-pre-publication states are indistinguishable
    without leases, which is why ``_commit`` refuses instead of healing
    inline).

    Resolution per transaction-log residue:

    - claim sidecar WITHOUT a published manifest, with a surviving
      fsynced tmp body whose data directories ALL exist → ROLL FORWARD:
      the claimant had durably decided the content, so publish it
      (lexicographically first complete tmp when a pre-claim retry
      crash left several — none was ever acknowledged, so either body
      is a correct commit);
    - claim without manifest and no complete tmp → ROLL BACK: remove
      the claim so a retry can commit the version. "Complete" includes
      the data dirs: a body whose ``dirs`` point at missing/never-
      finished directories must NOT be published — it would pass
      recovery and only surface later as a broken read (ADVICE r6);
    - tmp bodies whose manifest IS published (link-path crash residue,
      or pre-claim crashes) → swept: the commit point is the
      link/rename, so an unpublished unclaimed body was never promised.

    Readers are safe throughout: discovery matches ``v*.json`` exactly,
    and publication stays an atomic rename of an fsynced file. Returns
    {"rolled_forward": [versions], "rolled_back": [versions],
    "swept": [filenames], "orphan_dirs": [dirnames]} — ``orphan_dirs``
    lists on-disk data directories referenced only by swept/abandoned
    bodies (a losing retry's data), so operators know what ``vacuum``
    will not see and can remove.
    """
    log = _log_dir(path)
    out: dict = {
        "rolled_forward": [],
        "rolled_back": [],
        "swept": [],
        "orphan_dirs": [],
    }
    if not os.path.isdir(log):
        return out

    def _body_of(entry: str) -> dict | None:
        try:
            with open(os.path.join(log, entry)) as f:
                body = json.load(f)
        except (OSError, ValueError):
            return None
        return body if isinstance(body, dict) else None

    for entry in sorted(os.listdir(log)):
        # Strict name guard: only claims of the v<digits>.json family are
        # commit residue; a stray foreign file (operator copy, editor
        # artifact) must not abort the one path that restores a broken
        # table. latest_version() applies the same discipline.
        m = re.fullmatch(r"v(\d+)\.json\.claim", entry)
        if not m:
            continue
        manifest = entry[: -len(".claim")]
        target = os.path.join(log, manifest)
        if os.path.exists(target):
            continue  # published; the claim is normal sidecar residue
        version = int(m.group(1))
        # Roll forward only a VALID durable body: a crash mid-write can
        # leave a partial (never-fsynced) tmp alongside a complete one
        # from a retry — publishing the partial would wedge every later
        # read at json.load. Parse each candidate and require (a) the
        # body to identify as this version, and (b) every data dir it
        # references to be a COMPLETE parquet directory — present AND
        # carrying a completeness marker (Spark's _SUCCESS, or at least
        # one *.parquet part for writers with the marker disabled). A
        # bare isdir is not enough (ADVICE r7): a crash between
        # mkdir and the part writes leaves an empty directory that
        # passes existence but fails at read time — the exact failure
        # this gate exists to keep unpublished.
        def _complete_dir(d: str) -> bool:
            full = os.path.join(path, d)
            if not os.path.isdir(full):
                return False
            if os.path.exists(os.path.join(full, "_SUCCESS")):
                return True
            try:
                return any(e.endswith(".parquet") for e in os.listdir(full))
            except OSError:
                return False

        chosen = None
        for t in sorted(
            e for e in os.listdir(log) if e.startswith(manifest + ".tmp-")
        ):
            body = _body_of(t)
            if (
                body is not None
                and body.get("version") == version
                and isinstance(body.get("dirs"), list)
                and all(
                    isinstance(d, str) and _complete_dir(d)
                    for d in body["dirs"]
                )
            ):
                chosen = t
                break
        if chosen is not None:
            os.rename(os.path.join(log, chosen), target)
            out["rolled_forward"].append(version)
        else:
            os.remove(os.path.join(log, entry))
            out["rolled_back"].append(version)
    swept_dirs: set[str] = set()
    for entry in sorted(os.listdir(log)):
        if ".json.tmp-" not in entry:
            continue
        manifest = entry.split(".json.tmp-")[0] + ".json"
        published = os.path.exists(os.path.join(log, manifest))
        claimed = os.path.exists(os.path.join(log, manifest + ".claim"))
        # Published → residue of a completed commit. Unclaimed and
        # unpublished → a pre-claim crash body that was never promised;
        # sweeping it keeps a FUTURE roll-forward from resurrecting
        # stale content ahead of a newer claimant's body.
        if published or not claimed:
            body = _body_of(entry)
            if body is not None and isinstance(body.get("dirs"), list):
                swept_dirs.update(
                    d for d in body["dirs"] if isinstance(d, str)
                )
            os.remove(os.path.join(log, entry))
            out["swept"].append(entry)
    if swept_dirs:
        # A swept body's dirs are orphan CANDIDATES: anything a published
        # manifest still references is live (append bodies list inherited
        # dirs too), and only directories actually on disk need vacuuming.
        live: set[str] = set()
        for entry in os.listdir(log):
            if re.fullmatch(r"v\d+\.json", entry):
                body = _body_of(entry)
                if body is not None and isinstance(body.get("dirs"), list):
                    live.update(body["dirs"])
        out["orphan_dirs"] = sorted(
            d
            for d in swept_dirs - live
            if os.path.isdir(os.path.join(path, d))
        )
    return out


def _write_dir(
    df: DataFrame, path: str, version: int, stats_cols: list[str]
) -> tuple[str, int, dict | None]:
    """Land ``df`` in a new ``data-<version>-<uuid>`` directory; return
    (dir name, rows landed, zone map or None). Row count and per-column
    [min, max] are observed BY THE WRITE JOB ITSELF, so they describe
    exactly the rows that landed, with no second job: re-evaluating a
    nondeterministic df (sample, rand, drifting source) would commit
    zones that disagree with the written rows, turning
    read_table_pruned's skipping into silent row loss. Zone values are
    JSON-encoded (dates, timestamps and decimals stringify)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    data_dir = f"data-{version:05d}-{uuid.uuid4().hex[:8]}"
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)), *[
        agg(c).alias(f"{agg.__name__}{i}")
        for i, c in enumerate(stats_cols) for agg in (F.min, F.max)
    ]).write.mode("overwrite").parquet(os.path.join(path, data_dir))
    n, *bounds = obs.get.values()
    enc = [
        v if v is None or isinstance(v, (int, float, str, bool)) else str(v)
        for v in bounds
    ]
    zone = {c: enc[2 * i:2 * i + 2] for i, c in enumerate(stats_cols)}
    return data_dir, n, zone or None


def _commit_write(
    path: str,
    base: tuple[int, dict] | None,
    df: DataFrame,
    mode: str,
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    keep: list[str] | tuple = (),
    drop_empty: bool = False,
) -> int:
    """The one commit step of every writer: land ``df`` in a new dir
    profiled on ``stats_cols``, carry the ``keep`` dirs of ``base``
    (``(version, manifest)``, None for a new table) BY REFERENCE with
    their zone maps, and commit the next version once. ``stats_cols``
    None means the columns the replaced dirs tracked: a rewrite keeps
    the table's zone maps. With ``drop_empty``, a frame that landed no
    rows adds no dir (its never-referenced dir is removed). Returns the
    version."""
    version = 0 if base is None else base[0] + 1
    old_stats = {} if base is None else base[1].get("stats", {})
    stats = {d: old_stats[d] for d in keep if d in old_stats}
    if stats_cols is None:
        replaced = [d for d in base[1]["dirs"] if d not in keep]
        stats_cols = sorted({c for d in replaced for c in old_stats.get(d, {})})
    data_dir, n, zone = _write_dir(df, path, version, stats_cols)
    dirs = list(keep)
    if n or not drop_empty:
        dirs.append(data_dir)
        if zone:
            stats[data_dir] = zone
    else:
        shutil.rmtree(os.path.join(path, data_dir))
    _commit(path, version, dirs, mode, meta=meta, stats=stats or None)
    return version


def _snapshot(path: str, version: int | None = None) -> tuple[int, dict]:
    """(version, manifest) of the latest or the given snapshot."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed versions at {path}")
    return v, _read_manifest(path, v)


def _scan(spark: SparkSession, path: str, dirs: list[str], schema=None):
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*[os.path.join(path, d) for d in dirs])


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new version. ``append`` adds to the current
    snapshot's file set; ``overwrite`` starts a fresh set (history
    remains readable). ``stats_cols`` records a per-directory min/max
    zone map in the manifest, enabling manifest-level file skipping at
    read time (`read_table_pruned`). Returns the committed version
    number."""
    if mode not in ("append", "overwrite"):
        raise ValueError(mode)
    base = None if latest_version(path) is None else _snapshot(path)
    keep = [] if (mode == "overwrite" or base is None) else base[1]["dirs"]
    return _commit_write(path, base, df, mode, meta, stats_cols or [], keep)


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: resolve the manifest (latest or the time-travel
    ``version``), then scan exactly its directories."""
    v, manifest = _snapshot(path, version)
    if not manifest["dirs"]:
        raise ValueError(f"version {v} is empty")
    return _scan(spark, path, manifest["dirs"])


def prune_dirs(
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[list[str], list[str]]:
    """Manifest-level data skipping: return (selected, all) data dirs for
    a ``lo <= col <= hi`` range predicate, keeping only dirs whose
    recorded [min, max] zone overlaps the range. Dirs without stats are
    conservatively kept (skipping is an optimization, never a filter).
    Date/timestamp zones are ISO strings, so string comparison against
    ISO bounds orders correctly.

    This is the open-table-format scan-planning core: at 100 TB the
    predicate consults a KB-sized manifest — not the filesystem, not the
    parquet footers — and a time-range query over a time-clustered table
    touches only the matching files. Pruning composes with (does not
    replace) parquet row-group min/max skipping inside each file."""
    _, manifest = _snapshot(path, version)
    stats = manifest.get("stats", {})
    selected = []
    for d in manifest["dirs"]:
        zone = stats.get(d, {}).get(col)
        if zone is None:
            selected.append(d)
            continue
        mn, mx = zone
        if mn is None or mx is None:  # all-null chunk: no value matches
            continue
        if not (mx < lo or mn > hi):
            selected.append(d)
    return selected, list(manifest["dirs"])


def read_table_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Range-predicate snapshot read with manifest zone-map skipping:
    scans only the dirs `prune_dirs` selects, then applies the exact
    predicate (zones are necessary, not sufficient). Result is provably
    identical to filtering the full snapshot — tests assert both the
    equality and that fewer directories were actually scanned."""
    from pyspark.sql import functions as F

    selected, _ = prune_dirs(path, col, lo, hi, version=version)
    if not selected:
        return read_table(spark, path, version).limit(0)
    df = _scan(spark, path, selected)
    return df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))


def restore_table(path: str, version: int) -> int:
    """RESTORE: re-commit an old snapshot's exact file set as the new
    latest version — an O(1) metadata operation (no data is copied or
    rewritten; the manifest re-references the immutable dirs). The
    mis-write stays in history for audit; vacuum retention decides when
    its files actually go."""
    manifest = _read_manifest(path, version)
    prev = latest_version(path)
    new_version = prev + 1
    _commit(
        path,
        new_version,
        manifest["dirs"],
        "overwrite",
        meta={"restored_from": version},
        stats=manifest.get("stats") or None,
    )
    return new_version


def table_history(path: str) -> list[dict]:
    """All SURVIVING manifests, oldest first (the audit trail). Versions
    vacuumed out of the retention window are skipped, not errors — the
    same guard fsck uses."""
    last = latest_version(path)
    if last is None:
        return []
    return [
        _read_manifest(path, v)
        for v in range(last + 1)
        if os.path.exists(_manifest_path(path, v))
    ]


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Drop manifests older than the newest ``keep_versions`` and delete
    data dirs no surviving manifest references. Returns removed dirs.
    Time travel beyond the retention window is traded for space — the
    explicit operator decision, never an implicit side effect."""
    last = latest_version(path)
    if last is None:
        return []
    cutoff = max(0, last - keep_versions + 1)
    live: set[str] = set()
    for v in range(cutoff, last + 1):
        live.update(_read_manifest(path, v)["dirs"])
    removed = []
    for entry in sorted(os.listdir(path)):
        if entry.startswith("data-") and entry not in live:
            shutil.rmtree(os.path.join(path, entry))
            removed.append(entry)
    for v in range(cutoff):
        manifest = _manifest_path(path, v)
        if os.path.exists(manifest):
            os.remove(manifest)
    return removed


def merge_table(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    meta: dict | None = None,
) -> int:
    """MERGE (upsert): each source row REPLACES all current rows sharing
    its key, or inserts if the key is new; untouched current rows carry
    over. Implemented as copy-on-write against the current snapshot —
    one anti-join by key plus a union, then an atomic `overwrite`
    commit, so readers see the pre- or post-merge version, never a
    blend. Delete-then-insert (not a full-outer join): if the target
    somehow holds duplicate keys, a join-based merge would match EACH
    duplicate against the source row and silently emit the source
    payload twice — replace-by-key collapses them instead, which is the
    upsert contract the IVM/stream sinks rely on. At scale the
    anti-join shuffles once on the key and AQE broadcasts a small CDC
    batch against the big snapshot. The rewritten snapshot is profiled
    on the columns the old one kept zone maps on."""
    base = _snapshot(path)
    current = read_table(spark, path, base[0])
    cols = current.columns
    if source.columns != cols:
        raise ValueError(f"source columns {source.columns} != table {cols}")
    merged = current.join(
        source.select(*key_cols).distinct(), key_cols, "left_anti"
    ).unionByName(source)
    return _commit_write(path, base, merged, "overwrite", meta)


def _affected_dirs(hits, dirs: list[str], path: str) -> list[str]:
    """Data dirs (first path segment UNDER the table root) that own at
    least one matched file. Matching on the root-relative segment — not
    a substring test — so a table root that itself contains a segment
    equal to a data-dir name (nested layouts) can't mark every dir
    affected and trigger a full rewrite (ADVICE r8). File names come
    from ``input_file_name()`` (URI form, e.g. ``file:/root/.../dir/
    part-*.parquet``), so we anchor on the root path plus '/'."""
    marker = path.rstrip("/") + "/"
    owners: set[str] = set()
    for r in hits:
        fname = r["_f"]
        i = fname.find(marker)
        if i < 0:
            # URI-encoding or scheme mangling defeated the anchor; fall
            # back to the (over-)matching substring test for THIS file
            # only — over-rewrite, never a missed rewrite.
            owners.update(d for d in dirs if f"/{d}/" in fname)
            continue
        owners.add(fname[i + len(marker):].split("/", 1)[0])
    return [d for d in dirs if d in owners]


def _match(spark: SparkSession, path: str, predicate, count_key: str):
    """The match pass delete_where and update_where share: ONE pass over
    the latest snapshot counts matching rows per file (the collect is
    O(files-with-matches), manifest-scale metadata, never rows); the
    owning dirs are the rewrite scope. Rows where ``predicate`` (Column
    or SQL string) is NULL do not match (SQL DELETE/UPDATE semantics).
    Returns ``(base, hit, report, affected, scope)``: ``hit`` is the
    NULL-safe match Column, ``report`` counts matches under
    ``count_key``, and ``scope`` reads the affected dirs (the whole
    snapshot when none) with the snapshot's schema, so no
    schema-inference job runs."""
    from pyspark.sql import functions as F

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(pred, F.lit(False))
    base = _snapshot(path)
    dirs = base[1]["dirs"]
    full = _scan(spark, path, dirs)
    hits = (
        full.filter(hit)
        .groupBy(F.input_file_name().alias("_f"))
        .count()
        .collect()
    )
    # a match no dir could be attributed to rewrites every dir:
    # over-rewrite, never a missed rewrite
    affected = _affected_dirs(hits, dirs, path) or (list(dirs) if hits else [])
    report = {
        count_key: int(sum(r["count"] for r in hits)),
        "dirs_rewritten": len(affected),
        "dirs_kept": len(dirs) - len(affected),
    }
    scope = _scan(spark, path, affected, full.schema) if affected else full
    return base, hit, report, affected, scope


def delete_where(
    spark: SparkSession,
    path: str,
    predicate,
    meta: dict | None = None,
) -> tuple[int | None, dict]:
    """Copy-on-write ``DELETE FROM <table> WHERE predicate`` — the
    GDPR / right-to-be-forgotten operation a training-data store must
    support: rewrite ONLY the data directories that actually hold
    matching rows; every untouched directory carries into the new
    version BY REFERENCE (no data copied), its zone-map stats intact.
    ``predicate`` is a Column or a SQL string; rows where it evaluates
    NULL are KEPT (SQL DELETE semantics).

    Returns ``(version, report)`` — report holds rows_deleted,
    dirs_rewritten, dirs_kept. A no-match delete commits NOTHING and
    returns ``(current_version, report)`` (idempotent re-runs don't
    grow history). Survivors of the affected dirs land in one new dir,
    profiled on the tracked columns; no survivors, no new dir.

    Scale: ONE pass over the snapshot finds the affected directories
    (`_match`); the rewrite scans only those directories. On a time- or
    id-clustered table a targeted delete touches a handful of files out
    of thousands — this is Delta/Iceberg CoW DELETE semantics on the
    same manifest log write_table commits through, so time travel still
    serves every pre-delete snapshot until ``vacuum`` retention drops
    them (true erasure = delete + vacuum, which the docstring of vacuum
    covers)."""
    base, hit, report, affected, scope = _match(
        spark, path, predicate, "rows_deleted"
    )
    if not report["rows_deleted"]:
        return base[0], report
    version = _commit_write(
        path, base, scope.filter(~hit), "delete", meta,
        keep=[d for d in base[1]["dirs"] if d not in affected],
        drop_empty=True,
    )
    return version, report


def update_where(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict,
    meta: dict | None = None,
) -> tuple[int | None, dict]:
    """Copy-on-write ``UPDATE <table> SET ... WHERE predicate`` — the
    sibling of :func:`delete_where`, same directory-level CoW: one
    snapshot pass finds directories holding matching rows, ONLY those
    rewrite (matching rows get the assignments applied, their
    neighbors rewrite verbatim), untouched directories carry by
    reference. ``assignments`` maps column name → Column/SQL-string
    expression, evaluated AGAINST THE OLD ROW (ANSI UPDATE: all
    assignments see the pre-update values, so swap-style updates work).
    Rows where the predicate is NULL are untouched.

    Returns ``(version, report)`` with rows_updated / dirs_rewritten /
    dirs_kept; a no-match update commits nothing. Zone maps of the
    rewritten directory are re-profiled on the manifest's tracked
    columns (an assignment may move a column's min/max)."""
    from pyspark.sql import functions as F

    base, hit, report, affected, scope = _match(
        spark, path, predicate, "rows_updated"
    )
    unknown = set(assignments) - set(scope.columns)
    if unknown:
        raise ValueError(f"assignments to unknown columns {sorted(unknown)}")
    if not report["rows_updated"]:
        return base[0], report
    exprs = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in assignments.items()
    }
    # FAIL-LOUD CAST CONTRACT (ADVICE r8): under Spark's default
    # non-ANSI casts an incompatible assignment (e.g. a non-numeric
    # string into an INT column) silently writes NULL into every
    # matched row. Validate BEFORE rewriting: count matched rows where
    # an assignment evaluates non-null but its cast to the column type
    # is null (try_cast) — any hit means the cast is lossy-to-NULL and
    # we raise instead of corrupting the table. Cost: one aggregate
    # over the affected (manifest-pruned) directories only.
    bad_row = (
        scope.filter(hit)
        .agg(
            *[
                F.sum(
                    (
                        ex.isNotNull()
                        & ex.try_cast(scope.schema[c].dataType).isNull()
                    ).cast("int")
                ).alias(c)
                for c, ex in exprs.items()
            ]
        )
        .collect()[0]
    )
    bad_cols = {c: int(bad_row[c] or 0) for c in exprs}
    if any(bad_cols.values()):
        raise ValueError(
            "update_where: assignment would silently NULL matched rows "
            "under a lossy cast: "
            + ", ".join(
                f"{c} ({n} rows, target {scope.schema[c].dataType.simpleString()})"
                for c, n in bad_cols.items()
                if n
            )
        )
    # all assignments in ONE select so each sees the pre-update row
    cols = [
        F.when(hit, exprs[c].cast(scope.schema[c].dataType))
        .otherwise(F.col(c))
        .alias(c)
        if c in assignments
        else F.col(c)
        for c in scope.columns
    ]
    version = _commit_write(
        path, base, scope.select(*cols), "update", meta,
        keep=[d for d in base[1]["dirs"] if d not in affected],
    )
    return version, report


def diff_versions(
    spark: SparkSession, path: str, old: int, new: int
) -> DataFrame:
    """Change feed between two snapshots, computed as bag-semantics set
    differences: rows only in ``new`` are tagged 'insert', rows only in
    ``old`` are 'delete' (an updated row appears as one of each — the
    classic CDC decomposition when the log stores snapshots, not
    row-level changes). EXCEPT ALL keeps duplicate multiplicity honest."""
    from pyspark.sql import functions as F

    old_df = read_table(spark, path, version=old)
    new_df = read_table(spark, path, version=new)
    inserts = new_df.exceptAll(old_df).select(
        F.lit("insert").alias("change"), "*"
    )
    deletes = old_df.exceptAll(new_df).select(
        F.lit("delete").alias("change"), "*"
    )
    return inserts.unionByName(deletes)


def optimize_table(
    spark: SparkSession, path: str, target_files: int = 1
) -> int:
    """OPTIMIZE: rewrite the current snapshot into ``target_files``
    right-sized files and commit the compacted layout as a new version —
    logically a no-op (same rows), physically the small-file fix.
    Because it goes through the same atomic commit path, readers never
    see a half-compacted table, and the pre-compaction version remains
    time-travelable until vacuumed. The streaming-append + periodic
    OPTIMIZE + vacuum loop is the standard lakehouse maintenance cycle
    (operators/scale.py:compact_parquet is the raw-directory sibling).
    The compacted directory is profiled on the snapshot's tracked
    columns, so its zone map survives."""
    base = _snapshot(path)
    current = read_table(spark, path, base[0])
    return _commit_write(
        path, base, current.repartition(target_files), "overwrite"
    )


def fsck(path: str) -> dict:
    """Consistency audit between the transaction log and the filesystem:
    data dirs referenced by a live manifest but missing on disk
    (corruption — reads will fail) and dirs present but referenced by no
    manifest (leaks — vacuum candidates or torn writes). Returns
    {'missing': [...], 'orphans': [...]}; empty lists = healthy."""
    referenced = {d for m in table_history(path) for d in m["dirs"]}
    on_disk = {
        e for e in os.listdir(path) if e.startswith("data-")
    } if os.path.isdir(path) else set()
    return {
        "missing": sorted(referenced - on_disk),
        "orphans": sorted(on_disk - referenced),
    }

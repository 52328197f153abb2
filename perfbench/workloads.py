"""The workloads. Each is a closed loop driven by one client thread.

A workload object owns its generated inputs and exposes:

- ``WARMUP``: the number of untimed passes before timing starts;
- ``setup(spark, stage_dir)``: the timed part of set-up after the session
  starts (input staging, cache warm-up); returns per-layer set-up times;
- ``start_oracle(tmp)``: begin computing expected results (untimed; may
  run in a background thread while the first warm-up pass runs);
- ``bind(spark, tracer)``: the session and tracer the ops use;
- ``pass_ops(i)``: the op list of pass ``i`` as ``(name, fn)`` pairs; an
  op returns its result (a pandas frame) or None, and may carry an
  ``after`` hook the runner calls untimed once the op has returned;
- ``check(results)``: names of ops whose results are wrong;
- ``finish()``: end-of-run checks, returning failed check names;
- ``report()``: workload-specific metrics for the printed report.

Every op rebuilds its plan: an op is the call into the engine's public
function plus, when it returns a DataFrame, its materialization with
``toPandas()``. Both are wrapped in tracer spans (``call`` and
``collect``), which are no-ops when tracing is off.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)
from parity import canon_frame  # noqa: E402


def fingerprint(pdf) -> tuple:
    """Order-insensitive result fingerprint: (sorted column names, row
    count, digest of the rows canonicalized as the engine's parity
    harness does, tests/parity.py:canon_frame). Two results match when
    their fingerprints are equal."""
    rows = canon_frame(pdf)
    return (tuple(sorted(pdf.columns)), len(rows),
            hashlib.sha256(repr(rows).encode()).hexdigest())


def call(tr, name: str, fn, *args, **kwargs):
    """Run one call into the engine inside a ``call`` span; returns the
    result and the span record."""
    with tr.span(name, "call", jobs=True) as rec:
        out = fn(*args, **kwargs)
    return out, rec


def collect(tr, df, call_rec: dict | None = None):
    """Materialize ``df`` to pandas inside a ``collect`` span."""
    with tr.span("collect", "collect", jobs=True) as rec:
        pdf = df.toPandas()
    tr.collected(rec, df, call_rec)
    return pdf


def noop(tr, name: str, df) -> float:
    """Materialize ``df`` into the noop sink (all columns, all rows)
    inside a ``call`` span; returns seconds."""
    t0 = time.perf_counter()
    with tr.span(name, "call", jobs=True):
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class InteractiveSQL:
    """The ten reference analytical queries of bench.py
    (``HEADLINE[:10]``) over warm_cache, in a seed-shuffled order each
    pass. On a traced run the corpus-prep stages are also timed one by
    one, as scripts/profile_stages.py does.
    Every result is compared with its query's DuckDB oracle
    (``REGISTRY[name].oracle``) run over the same staged files."""

    name = "interactive_sql"
    SF = 0.01
    #: Every query's result is compared with its oracle's.
    QUERIES = CHECKED = [
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
    ]
    #: Untimed passes before timing starts. A pass runs in about 8 s cold,
    #: 5.5 s second and 4 s from the third on (four cores).
    WARMUP = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.tables = inputs.generate(seed, self.SF)
        self.spark = None
        self.tr = None
        self.data_dir = None
        self.expected: dict | None = None
        self._oracle = None
        self.wrong_expected: str | None = None

    def bind(self, spark, tracer) -> None:
        self.spark, self.tr = spark, tracer

    def start_oracle(self, tmp: str) -> None:
        from world_cup_duckdb_spark.queries import REGISTRY

        data_dir = self.data_dir

        def compute() -> dict:
            con = duckdb.connect()
            con.execute(f"SET temp_directory = '{tmp}'")
            # One thread, so that the engine's pass alongside keeps the cores.
            con.execute("SET threads = 1")
            for t in self.tables:
                path = os.path.join(data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            try:
                return {
                    n: fingerprint(con.execute(REGISTRY[n].oracle).df())
                    for n in self.QUERIES
                }
            finally:
                con.close()

        pool = ThreadPoolExecutor(1)
        self._oracle = pool.submit(compute)
        pool.shutdown(wait=False)

    def _op(self, name: str):
        from world_cup_duckdb_spark.queries import REGISTRY

        def fn():
            df, rec = call(self.tr, name, REGISTRY[name].fn, self.spark, self.data_dir)
            return collect(self.tr, df, rec)

        return fn

    def pass_ops(self, i: int) -> list:
        order = list(self.QUERIES)
        random.Random(self.seed * 1000 + i).shuffle(order)
        return [(n, self._op(n)) for n in order]

    def check(self, results: dict) -> list[str]:
        if self.expected is None:
            self.expected = self._oracle.result()
            if self.wrong_expected in self.expected:
                cols, rows, _ = self.expected[self.wrong_expected]
                self.expected[self.wrong_expected] = (cols, rows, "0" * 64)
        return [
            n
            for n, pdf in results.items()
            if pdf is None or fingerprint(pdf) != self.expected[n]
        ]

    def finish(self) -> list[str]:
        return []

    def setup(self, spark, stage_dir: str) -> dict:
        from world_cup_duckdb_spark.sources.catalog import warm_cache

        t0 = time.perf_counter()
        inputs.stage(self.tables, stage_dir)
        t1 = time.perf_counter()
        with self.tr.span("warm_cache", "call", jobs=True):
            warm_cache(spark, stage_dir)
        t2 = time.perf_counter()
        self.data_dir = stage_dir
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {
            "stage_s": t1 - t0,
            "catalog.warm_cache_s": t2 - t1,
            "catalog.cached_mb": sum(i.memSize() for i in infos) / 1e6,
        }

    def report(self) -> dict:
        """On a traced run, the corpus-prep stages timed one by one, each
        stage's output sent to the noop sink."""
        if not self.tr.enabled:
            return {}
        from pyspark.sql import functions as F

        from world_cup_duckdb_spark.operators.dedup import (
            connected_components,
            lsh_star_edges,
            minhash_bands,
            with_recrawl,
        )
        from world_cup_duckdb_spark.operators.text import stage_token_counts
        from world_cup_duckdb_spark.operators.training import (
            epoch_shuffle,
            temperature_mix,
        )
        from world_cup_duckdb_spark.queries import (
            release_tracked_persists,
            tracked_persist,
        )
        from world_cup_duckdb_spark.sources.catalog import table

        tr = self.tr
        docs = table(self.spark, self.data_dir, "documents")
        corpus = with_recrawl(docs.select("doc_id", "text"))
        out = {}
        bands = minhash_bands(corpus, num_hashes=8, band_size=2).transform(
            tracked_persist
        )
        out["dedup.minhash_bands_s"] = noop(tr, "minhash_bands", bands)
        out["dedup.lsh_star_edges_s"] = noop(tr, "lsh_star_edges", lsh_star_edges(bands))
        t0 = time.perf_counter()
        with tr.span("connected_components", "call", jobs=True) as rec:
            clusters = connected_components(lsh_star_edges(bands))
            clusters.write.format("noop").mode("overwrite").save()
        out["dedup.connected_components_s"] = time.perf_counter() - t0
        out["dedup.cc_jobs"] = rec["counters"]["jobs"]
        out["text.stage_token_counts_s"] = noop(
            tr,
            "stage_token_counts",
            stage_token_counts(corpus, keep=("doc_id",), langs=("en",)),
        )
        meta = with_recrawl(docs.select("doc_id", "source", "n_chars"))
        mixed = temperature_mix(
            meta, weight_col="n_chars", group_col="source", id_col="doc_id"
        )
        out["training.temperature_mix_s"] = noop(tr, "temperature_mix", mixed)
        shuffled = epoch_shuffle(
            mixed.select("doc_id", F.col("copy_nr").cast("long"), "n_chars"),
            id_col=["doc_id", "copy_nr"],
            n_epochs=2,
            n_shards=8,
            carry=("n_chars",),
        )
        out["training.epoch_shuffle_s"] = noop(tr, "epoch_shuffle", shuffled)
        release_tracked_persists()
        return out


class TableMaintenance:
    """A seeded mix of writes and reads on an orders-derived versioned
    table, a MinHash dedup index and a streaming upsert table. Every
    table write is replayed on DuckDB in lockstep, and every read is
    checked against the replay as soon as it returns."""

    name = "table_maintenance"
    SF = 0.01
    #: Ops whose results are compared with an expected result.
    CHECKED = ("read_table_pruned", "read_table", "final_snapshot", "stream_state")
    #: Untimed passes before timing starts: the first loads the table and
    #: builds the index; after it, pass times no longer fall.
    WARMUP = 1
    #: The table loads in four id-range appends, as the lifecycle queries'
    #: tables do (queries/lifecycle.py:_quartered_doc_table).
    LOAD_CHUNKS = 4
    #: A CDC batch updates one key in 97 and inserts one in 1000, the batch
    #: of queries/lifecycle.py:ext_merge_upsert_fact.
    CDC_UPDATE_EVERY = 97
    CDC_INSERT_EVERY = 1000
    #: Index batches are a quarter of the corpus, the batches of
    #: queries/ext_dedup.py:ext_inc_dedup_multibatch; an index delete
    #: tombstones a fifth of a batch, the share ext_inc_dedup_delete does.
    DOC_BATCH_SHARE = 4
    DOC_DELETE_SHARE = 5
    #: Each drained events file is a third of the events table, the split
    #: of tests/test_streaming.py.
    EVENT_FILES = 3
    #: Key ranges of delete_where and update_where (no source; chosen so
    #: that the table keeps growing by the CDC inserts).
    DELETE_KEYS = 25
    UPDATE_KEYS = 100
    KEY = "o_orderkey"

    def __init__(self, seed: int):
        self.seed = seed
        tables = inputs.generate(seed, self.SF)
        self.orders = tables["orders"]
        self.docs = tables["documents"].select(["doc_id", "text"])
        self.events = tables["events"].select(
            ["event_id", "ts", "user_id", "event_type", "value"]
        )
        self.spark = self.tr = None
        self.wrong_expected: str | None = None
        self.failures: list[str] = []
        self._next_key = self.orders.num_rows
        self._next_doc = 10**7
        self._next_event = 0
        self._live_docs: dict[int, str] = {}
        self._last_probe = None
        self._events_schema = None
        self._seen: set[str] = set()
        self.stats = {
            "user_bytes": 0,
            "landed_bytes": 0,
            "files_written": 0,
            "dirs_rewritten": 0,
            "pruned_dirs": 0,
            "scanned_dirs": 0,
            "stream_batches": 0,
            "stream_rows": 0,
            "stream_batch_s": [],
            "tombstones": 0,
        }

    def bind(self, spark, tracer) -> None:
        self.spark, self.tr = spark, tracer

    def _stage_file(self, tbl: pa.Table, name: str) -> str:
        """Write user rows the workload submits; their parquet bytes are
        the denominator of write_amp."""
        path = os.path.join(self.inbox, name)
        pq.write_table(tbl, path)
        self.stats["user_bytes"] += os.path.getsize(path)
        return path

    def setup(self, spark, stage_dir: str) -> dict:
        """Staging only: the engine's first writes are the load ops of
        the untimed first pass."""
        t0 = time.perf_counter()
        self.stage_dir = stage_dir
        self.inbox = os.path.join(stage_dir, "inbox")
        self.events_dir = os.path.join(stage_dir, "events")
        os.makedirs(self.inbox)
        os.makedirs(self.events_dir)
        self.stats["user_bytes"] = 0
        bounds = np.linspace(0, self.orders.num_rows, self.LOAD_CHUNKS + 1).astype(int)
        self._load_files = [
            self._stage_file(
                self.orders.slice(lo, hi - lo), f"load-{i}.parquet"
            )
            for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
        ]
        self._base_docs_file = self._stage_file(self.docs, "docs-base.parquet")
        self.table = os.path.join(stage_dir, "orders_tbl")
        self.index = os.path.join(stage_dir, "doc_index")
        self.state = os.path.join(stage_dir, "user_state")
        self.checkpoint = os.path.join(stage_dir, "stream_ckpt")
        return {"stage_s": time.perf_counter() - t0}

    def start_oracle(self, tmp: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp}'")

    # -- bookkeeping between ops (untimed) ---------------------------------

    def _landed(self) -> None:
        """Count files that appeared under the table and index roots
        since the last call."""
        for root in (self.table, self.index, self.state):
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    if p not in self._seen:
                        self._seen.add(p)
                        self.stats["landed_bytes"] += os.path.getsize(p)
                        self.stats["files_written"] += f.endswith(".parquet")

    def _expect(self, op: str, pdf, sql: str) -> None:
        want = fingerprint(self.con.execute(sql).df())
        if op == self.wrong_expected:
            want = (want[0], want[1], "0" * 64)
        if pdf is None or fingerprint(pdf) != want:
            self.failures.append(op)

    # -- ops -----------------------------------------------------------------

    def _load(self, rng):
        from world_cup_duckdb_spark.operators.lakehouse import write_table

        for f in self._load_files:
            call(self.tr, "write_table", write_table, self.spark.read.parquet(f),
                 self.table, stats_cols=[self.KEY, "o_orderdate"])
        self.con.execute(
            "CREATE TABLE orders_tbl AS SELECT * FROM read_parquet("
            f"{[str(f) for f in self._load_files]})"
        )

    def _persist_index(self, rng):
        from world_cup_duckdb_spark.operators.dedup_index import minhash_index_persist

        call(self.tr, "minhash_index_persist", minhash_index_persist,
             self.spark.read.parquet(self._base_docs_file), self.index)
        ids, texts = self.docs["doc_id"].to_pylist(), self.docs["text"].to_pylist()
        self._live_docs.update(zip(ids, texts))

    def _merge(self, rng):
        """A CDC batch: updates of random (possibly deleted) keys and new
        keys."""
        from world_cup_duckdb_spark.operators.lakehouse import merge_table

        n_upd = self.orders.num_rows // self.CDC_UPDATE_EVERY
        n_new = self.orders.num_rows // self.CDC_INSERT_EVERY
        keys = np.unique(np.concatenate([
            rng.integers(0, self._next_key, n_upd),
            np.arange(self._next_key, self._next_key + n_new),
        ]))
        self._next_key += n_new
        src = self.orders.take(rng.integers(0, self.orders.num_rows, len(keys)))
        src = src.set_column(0, self.KEY, pa.array(keys, pa.int64()))
        src = src.set_column(
            3, "o_totalprice",
            pa.array(rng.integers(100_000, 50_000_000, len(keys)) / 100.0),
        )
        f = self._stage_file(src, f"cdc-{self._next_key}.parquet")
        call(self.tr, "merge_table", merge_table, self.spark, self.table,
             self.spark.read.parquet(f), [self.KEY])
        self.con.execute(
            f"DELETE FROM orders_tbl WHERE {self.KEY} IN "
            f"(SELECT {self.KEY} FROM read_parquet('{f}'))"
        )
        self.con.execute(f"INSERT INTO orders_tbl SELECT * FROM read_parquet('{f}')")

    def _delete(self, rng):
        from world_cup_duckdb_spark.operators.lakehouse import delete_where

        lo = int(rng.integers(0, self._next_key))
        pred = f"{self.KEY} BETWEEN {lo} AND {lo + self.DELETE_KEYS - 1}"
        (_, report), _ = call(self.tr, "delete_where", delete_where,
                              self.spark, self.table, pred)
        self.stats["dirs_rewritten"] += report["dirs_rewritten"]
        self.con.execute(f"DELETE FROM orders_tbl WHERE {pred}")

    def _update(self, rng):
        from world_cup_duckdb_spark.operators.lakehouse import update_where

        lo = int(rng.integers(0, self._next_key))
        pred = f"{self.KEY} BETWEEN {lo} AND {lo + self.UPDATE_KEYS - 1}"
        sets = {"o_totalprice": "o_totalprice + 1.5", "o_orderstatus": "'U'"}
        (_, report), _ = call(self.tr, "update_where", update_where,
                              self.spark, self.table, pred, sets)
        self.stats["dirs_rewritten"] += report["dirs_rewritten"]
        assign = ", ".join(f"{c} = {e}" for c, e in sets.items())
        self.con.execute(f"UPDATE orders_tbl SET {assign} WHERE {pred}")

    def _read_pruned(self, rng):
        from world_cup_duckdb_spark.operators.lakehouse import (
            prune_dirs,
            read_table_pruned,
        )

        lo = int(rng.integers(0, self._next_key))
        hi = lo + self._next_key // 20
        df, rec = call(self.tr, "read_table_pruned", read_table_pruned,
                       self.spark, self.table, self.KEY, lo, hi)
        pdf = collect(self.tr, df, rec)
        selected, every = prune_dirs(self.table, self.KEY, lo, hi)
        self.stats["pruned_dirs"] += len(every) - len(selected)
        self.stats["scanned_dirs"] += len(every)
        return pdf, f"SELECT * FROM orders_tbl WHERE {self.KEY} BETWEEN {lo} AND {hi}"

    def _read_full(self, rng):
        from world_cup_duckdb_spark.operators.lakehouse import read_table

        df, rec = call(self.tr, "read_table", read_table, self.spark, self.table)
        return collect(self.tr, df, rec), "SELECT * FROM orders_tbl"

    def _new_docs(self, rng) -> pa.Table:
        """A delta batch: half edited copies of corpus docs, half edited
        copies of live indexed docs."""
        n = self.docs.num_rows // self.DOC_BATCH_SHARE
        base = self.docs["text"].to_pylist()
        live = list(self._live_docs.values())
        text = [base[i] + " new" for i in rng.integers(0, len(base), n // 2)]
        text += [live[i] + " v2" for i in rng.integers(0, len(live), n - n // 2)]
        ids = np.arange(self._next_doc, self._next_doc + n, dtype=np.int64)
        self._next_doc += n
        return pa.table({"doc_id": ids, "text": text})

    def _index_append(self, rng):
        from world_cup_duckdb_spark.operators.dedup_index import minhash_index_append

        batch = self._new_docs(rng)
        f = self._stage_file(batch, f"docs-{self._next_doc}.parquet")
        call(self.tr, "minhash_index_append", minhash_index_append,
             self.spark, self.index, self.spark.read.parquet(f))
        self._live_docs.update(zip(batch["doc_id"].to_pylist(), batch["text"].to_pylist()))

    def _index_delete(self, rng):
        from world_cup_duckdb_spark.operators.dedup_index import minhash_index_delete

        live = sorted(self._live_docs)
        n = self.docs.num_rows // self.DOC_BATCH_SHARE // self.DOC_DELETE_SHARE
        victims = [live[i] for i in rng.choice(len(live), n, replace=False)]
        ids = self.spark.createDataFrame([(v,) for v in victims], "doc_id long")
        call(self.tr, "minhash_index_delete", minhash_index_delete,
             self.spark, self.index, ids)
        for v in victims:
            del self._live_docs[v]
        self.stats["tombstones"] += len(victims)

    def _index_probe(self, rng):
        from world_cup_duckdb_spark.operators.dedup_index import (
            minhash_index_probe_dedup,
        )

        batch = self._new_docs(rng)
        f = os.path.join(self.inbox, f"probe-{self._next_doc}.parquet")
        pq.write_table(batch, f)
        df, rec = call(self.tr, "minhash_index_probe_dedup", minhash_index_probe_dedup,
                       self.spark, self.index, self.spark.read.parquet(f))
        pdf = collect(self.tr, df, rec)
        self._last_probe = (f, pdf)

    def _stream(self, rng):
        """Drain one new events file through the streaming upsert. File
        ``k`` is part ``k % EVENT_FILES`` of the events table, its times
        shifted past every earlier file's, so that a later file's row for
        a key is also its latest."""
        from world_cup_duckdb_spark.streaming.table_sink import stream_upsert_table

        n = self.events.num_rows // self.EVENT_FILES
        cycle, part = divmod(self._next_event // n, self.EVENT_FILES)
        batch = self.events.slice(part * n, n)
        ts = pc.cast(self.events["ts"], pa.int64())
        shift = cycle * (pc.max(ts).as_py() - pc.min(ts).as_py() + 1)
        batch = batch.set_column(0, "event_id", pa.array(
            np.arange(self._next_event, self._next_event + n, dtype=np.int64)))
        batch = batch.set_column(1, "ts", pc.cast(
            pc.add(pc.cast(batch["ts"], pa.int64()), shift), batch["ts"].type))
        self._next_event += n
        path = os.path.join(self.events_dir, f"batch-{self._next_event:09d}.parquet")
        pq.write_table(batch, path)
        self.stats["user_bytes"] += os.path.getsize(path)
        if self._events_schema is None:
            self._events_schema = self.spark.read.parquet(path).schema
        source = self.spark.readStream.schema(self._events_schema).parquet(self.events_dir)
        with self.tr.span("stream_upsert_table", "call", jobs=True) as rec:
            q = stream_upsert_table(source, self.state, self.checkpoint)
            q.awaitTermination()
            rec["extra_groups"] = [str(q.runId)]
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                self.stats["stream_batches"] += 1
                self.stats["stream_rows"] += p["numInputRows"]
                self.stats["stream_batch_s"].append(
                    p["durationMs"]["triggerExecution"] / 1000.0
                )

    def _optimize(self, rng):
        from world_cup_duckdb_spark.operators.lakehouse import optimize_table

        call(self.tr, "optimize_table", optimize_table, self.spark, self.table)

    def _vacuum(self, rng):
        from world_cup_duckdb_spark.operators.lakehouse import vacuum

        call(self.tr, "vacuum", vacuum, self.table, keep_versions=1)

    def _compact(self, rng):
        from world_cup_duckdb_spark.operators.dedup_index import minhash_index_compact

        call(self.tr, "minhash_index_compact", minhash_index_compact,
             self.spark, self.index)

    def pass_ops(self, i: int) -> list:
        """Pass ``i``: one round of writes and reads, then one step of
        table and index maintenance. Pass 0, which is not timed, first
        loads the table and builds the index."""
        steps = [("load", self._load), ("index_persist", self._persist_index)] if i == 0 else []
        steps += [
            ("merge_table", self._merge),
            ("delete_where", self._delete),
            ("update_where", self._update),
            ("read_table_pruned", self._read_pruned),
            ("read_table", self._read_full),
            ("index_append", self._index_append),
            ("index_delete", self._index_delete),
            ("index_probe", self._index_probe),
            ("stream_upsert", self._stream),
            ("optimize_table", self._optimize),
            ("vacuum", self._vacuum),
            ("index_compact", self._compact),
        ]
        rng = np.random.default_rng([self.seed, i])
        return [(name, self._op(name, fn, rng)) for name, fn in steps]

    def _op(self, name: str, fn, rng):
        def op():
            return fn(rng)

        def after(out) -> None:
            self._landed()
            if out is not None:
                self._expect(name, *out)

        op.after = after
        return op

    def check(self, results: dict) -> list[str]:
        failed, self.failures = self.failures, []
        return failed

    def finish(self) -> list[str]:
        """Final snapshot vs replay, fsck, stream state vs replay, and the
        maintained index's last probe vs the same probe of an index built
        from scratch over the live docs."""
        from world_cup_duckdb_spark.operators.dedup_index import (
            minhash_index_persist,
            minhash_index_probe_dedup,
        )
        from world_cup_duckdb_spark.operators.lakehouse import fsck, read_table

        failed = []
        self._final_rows = read_table(self.spark, self.table).toPandas()
        self._expect("final_snapshot", self._final_rows, "SELECT * FROM orders_tbl")
        report = fsck(self.table)
        if report["missing"] or report["orphans"]:
            failed.append("fsck")
        self._expect(
            "stream_state",
            read_table(self.spark, self.state).toPandas(),
            "SELECT user_id, event_type, ts, value, event_id FROM ("
            "SELECT *, row_number() OVER (PARTITION BY user_id, event_type "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM read_parquet("
            f"'{self.events_dir}/*.parquet')) WHERE rn = 1",
        )
        probe_file, maintained = self._last_probe
        fresh_index = os.path.join(self.stage_dir, "fresh_index")
        ids = sorted(self._live_docs)
        live = pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": [self._live_docs[i] for i in ids]})
        minhash_index_persist(self.spark.createDataFrame(live.to_pandas()), fresh_index)
        delta = self.spark.read.parquet(probe_file)
        fresh = minhash_index_probe_dedup(self.spark, fresh_index, delta).toPandas()
        if fingerprint(maintained) != fingerprint(fresh):
            failed.append("index_probe_vs_rebuild")
        return failed + self.check({})

    def report(self) -> dict:
        s = self.stats
        bucket_files = [
            sum(f.endswith(".parquet") for f in files)
            for d, _, files in os.walk(os.path.join(self.index, "bands"))
            if os.path.basename(d).startswith("bucket=")
        ]
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.table)
            for f in files
        )
        live_path = os.path.join(self.stage_dir, "live.parquet")
        pq.write_table(pa.Table.from_pandas(self._final_rows, preserve_index=False),
                       live_path)
        out = {
            "write_amp": s["landed_bytes"] / s["user_bytes"],
            "lakehouse.bytes_written": s["landed_bytes"],
            "lakehouse.files_written": s["files_written"],
            "lakehouse.dirs_rewritten": s["dirs_rewritten"],
            "lakehouse.prune_ratio": s["pruned_dirs"] / max(1, s["scanned_dirs"]),
            "lakehouse.space_per_live_byte": on_disk / os.path.getsize(live_path),
            "dedup_index.tombstones": s["tombstones"],
            "dedup_index.files_per_bucket": float(np.mean(bucket_files)),
            "streaming.batches": s["stream_batches"],
            "streaming.input_rows": s["stream_rows"],
        }
        if s["stream_batch_s"]:
            out["streaming.batch_s"] = float(np.median(s["stream_batch_s"]))
        return out


WORKLOADS = {w.name: w for w in (InteractiveSQL, TableMaintenance)}

"""Seeded input generator: the ten catalog tables as parquet.

The shapes follow the fixture tables the engine is tested on (TESTDATA.md,
FIXTURES.md): a TPC-H-like star schema, an ``events`` stream table, a text
corpus with near-duplicates and unit-norm embeddings. Row counts scale
with ``sf`` the same way (lineitem ~6M x sf). Every value comes from one
``numpy.random.Generator`` seeded by the caller, so one seed gives
byte-identical inputs. Money and rates are drawn as integer cents and
divided by 100, so each double equals the one its decimal literal parses
to, as in the fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _docs(rng, n: int) -> dict[str, np.ndarray]:
    """Corpus of ``n`` docs over a 30-word vocabulary. 5% are near-dups
    (another doc's text plus ' dup'); above 500 docs, 0.16% are exact
    copies, as in the fixture corpus."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    text = np.array(
        [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lengths],
        dtype=object,
    )
    n_near = n // 20
    n_exact = 0 if n <= 500 else (n * 8) // 5000
    picked = rng.permutation(n)
    near, exact = picked[:n_near], picked[n_near : n_near + n_exact]
    bases = picked[n_near + n_exact :]
    text[near] = [s + " dup" for s in text[rng.choice(bases, n_near)]]
    text[exact] = text[rng.choice(bases, n_exact)]
    return {
        "text": text,
        "lang": np.asarray(_LANGS, dtype=object)[rng.choice(5, n, p=_LANG_P)],
        "source": np.array([f"src{i}" for i in rng.integers(0, 20, n)], dtype=object),
    }


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
        }
    )
    adj = rng.integers(0, 8, n_part)
    noun = rng.integers(0, 8, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, max(1, n_cust), n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US,
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, max(1, n_ord), n_line),
            "l_partkey": rng.integers(0, max(1, n_part), n_line),
            "l_suppkey": rng.integers(0, max(1, n_supp), n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _EPOCH_1995 + (1 + rng.integers(0, 2498, n_line)) * _DAY_US,
        }
    )
    gaps = rng.integers(1, 51_840_000, n_ev)  # mean ~26 s between events
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _EPOCH_2024 + np.cumsum(gaps),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(5_000, n_ev)) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    docs = _docs(rng, n_docs)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs["text"],
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": np.array([len(t) for t in docs["text"]], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def stage(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table to ``<out_dir>/<name>.parquet``, the layout the
    engine's catalog reads."""
    os.makedirs(out_dir)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

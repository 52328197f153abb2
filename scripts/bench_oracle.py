#!/usr/bin/env python
"""DuckDB-oracle side of the Spark/DuckDB pair, measured like bench.py's
Spark side.

BASELINE.md compares `bench.py`'s headline timings against the same
oracle SQL run in DuckDB on the same machine. Box state moves BOTH
columns (host CPU steal hits Spark's task-launch overhead hardest), so
the ratio is only meaningful when the two sides are measured
back-to-back on the same box — this script makes the DuckDB column a
one-command re-measurement instead of an ad-hoc snippet.

Methodology mirrors bench.py: both sides plan and execute in every rep
(here `con.execute` parses and plans the SQL string each time), the
per-query MIN of $BENCH_REPS (default 7) after one warm-up execution,
$SPARK_GRAFT_CPUS threads (default 32), tables registered as views over
the same parquet files, and the same query selection and box-state
fields. Prints ONE JSON line:
    {"metric": "oracle_queries_total_wall", "value": s, "unit": "sec",
     "queries": {name: s}, "sf": ...}

Usage:
    python scripts/bench_oracle.py            # headline set at sf0.1
    BENCH_QUERIES=a,b python scripts/bench_oracle.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import LOAD_GATE, loadavg, selected  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    threads = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("BENCH_REPS", "7"))
    la_before = loadavg()
    busy_box = bool(la_before) and la_before[0] > LOAD_GATE

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def once(name: str) -> float:
        t0 = time.perf_counter()
        con.execute(oracles[name]).fetchall()
        return time.perf_counter() - t0

    timings: dict[str, float] = {}
    for name in selected(oracles):
        once(name)  # warm-up: page cache, plan cache
        timings[name] = round(min(once(name) for _ in range(reps)), 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "oracle_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
                "loadavg_before": la_before,
                "loadavg_after": loadavg(),
                "busy_box": busy_box,
                "reps": reps,
            }
        )
    )


if __name__ == "__main__":
    main()

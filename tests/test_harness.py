"""Contract tests for the surfaces the round driver consumes directly:
`__spark_entry__` (entry/queries/oracle_sql) and `bench.py`'s one-JSON-line
protocol. A silent breakage in either costs a whole round of evidence
(no CORRECTNESS/BENCH row), so they get the same test coverage as the
operators themselves.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_entry_contract(spark):
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    # Every oracle key is a query key; both non-empty; order is a dict
    # (the driver samples the FIRST ~50 keys, so order is meaningful).
    assert qs and oracles
    assert set(oracles) <= set(qs)
    assert list(qs)  # insertion-ordered dict
    # entry() returns a DataFrame with rows on the smoke fixture.
    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns


def test_bench_emits_one_json_line():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        BENCH_QUERIES="flagship,op47_topk",
        BENCH_REPS="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # The protocol: exactly one parseable JSON object line on stdout.
    lines = [l for l in out.stdout.splitlines() if l.strip().startswith("{")]
    assert lines, out.stdout[-2000:]
    rec = json.loads(lines[-1])
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["unit"] == "sec"
    assert set(rec["queries"]) == {"flagship", "op47_topk"}
    assert rec["value"] > 0
    # Pair-protocol self-labeling fields (VERDICT r10 item 1): box state
    # must be recorded in the artifact itself.
    assert isinstance(rec["busy_box"], bool)
    assert len(rec["loadavg_before"]) == 3
    assert len(rec["loadavg_after"]) == 3
    assert rec["reps"] >= 1
    # Plan-construction cost is reported per query (one warm-up build).
    assert set(rec["build_sec"]) == {"flagship", "op47_topk"}
    assert all(v >= 0 for v in rec["build_sec"].values())
    # One rep policy: every rep rebuilds its plan, and the payload has
    # no field naming plan-reused queries (pinned by the exact key set).
    assert rec["methodology"] == "rebuild-v4"
    assert set(rec) == {
        "metric", "value", "unit", "queries", "sf", "loadavg_before",
        "loadavg_after", "busy_box", "reps", "build_sec", "methodology",
    }


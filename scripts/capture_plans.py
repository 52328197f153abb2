#!/usr/bin/env python
"""Capture `.explain("formatted")` for the bench query set into
plans/<tag>/<query>_<suffix>.txt — the judge-auditable plan evidence for
optimization rounds (guide §1: record the plan shape before/after).

Usage:
    python scripts/capture_plans.py --tag r12 --suffix before [key ...]

Defaults to the bench HEADLINE + EXTENDED sets at sf0.1 on the bench's
own session (bench.session) so the captured plan is the plan the bench
times.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    import bench
    from world_cup_duckdb_spark.queries import (
        REGISTRY,
        release_tracked_persists,
    )

    spark = bench.session("wcdbs-plan-capture", args.sf_dir)
    keys = args.keys or (bench.HEADLINE + bench.EXTENDED)
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in keys:
        release_tracked_persists()
        df = REGISTRY[name].fn(spark, args.sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {path} ({len(plan)} bytes)")
    release_tracked_persists()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the engine: interactive SQL and table maintenance, each a
closed loop with one client thread.

Run from the repository root:

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

``--workload`` is interactive_sql, table_maintenance or ``all`` (every
workload in turn, in one driver process). The engine runs on
``local[<nproc>]`` with its own ``get_spark()`` defaults; the benchmark
sets only the driver heap (pinned at DRIVER_MEMORY), where Spark keeps its
files and the console progress bar.

A run generates its inputs from ``--seed``, sets up once (a cold session
start in a new JVM, input staging, cache warm-up), runs the workload's
untimed warm-up passes, whose results are checked, then timed passes
until ``--seconds`` have passed (at least MIN_PASSES), and checks the
results of the last one. With ``--trace 1`` the timed passes alternate
between untraced and traced, ending on a traced one; the traced ones give
the per-layer metrics, the tracing overhead is the difference of the two
kinds' pass times, and the spans go to ``--spans`` as JSON lines.

Output: one JSON record per workload with every metric by name and unit
and the run's environment, then as the last line
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The exit
code is 0 only when every result was correct and the run left no files
behind.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "2g"
#: Repository paths the engine must not touch during a run.
WATCHED = (".scratch", "spark-warehouse", "metastore_db", "derby.log")

WORKLOAD_NAMES = ("interactive_sql", "table_maintenance")
#: Timed passes a run makes even when they outlast ``--seconds``, so that
#: a slow stretch of a shared host still leaves each op more than one
#: sample.
MIN_PASSES = 2

END_TO_END = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}

#: Per-layer metrics every workload reports on a traced run: per timed
#: pass (median over traced passes) unless noted.
PER_LAYER = {
    "session.start_s": "s",
    "call.s": "s",
    "call.jobs": "count",
    "collect.s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_util": "ratio",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_records": "count",
    "self.op_s": "s",
    "self.call_s": "s",
    "self.collect_s": "s",
    "self.catalyst_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

#: Units of the report's metrics; any other report metric is in seconds.
REPORT_UNITS = {
    "failed_ratio": "ratio",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "write_amp": "ratio",
    "catalog.warm_cache_s": "s",
    "catalog.cached_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "dedup.cc_jobs": "count",
    "lakehouse.bytes_written": "bytes",
    "lakehouse.files_written": "count",
    "lakehouse.dirs_rewritten": "count",
    "lakehouse.prune_ratio": "ratio",
    "lakehouse.space_per_live_byte": "ratio",
    "dedup_index.tombstones": "count",
    "dedup_index.files_per_bucket": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
}

#: Engine calls whose median span duration the traced report lists.
CALL_METRICS = {
    "write_table": "lakehouse.write_table_s",
    "merge_table": "lakehouse.merge_table_s",
    "delete_where": "lakehouse.delete_where_s",
    "update_where": "lakehouse.update_where_s",
    "optimize_table": "lakehouse.optimize_table_s",
    "vacuum": "lakehouse.vacuum_s",
    "read_table": "lakehouse.read_table_s",
    "read_table_pruned": "lakehouse.read_table_pruned_s",
    "minhash_index_persist": "dedup_index.persist_s",
    "minhash_index_append": "dedup_index.append_s",
    "minhash_index_delete": "dedup_index.delete_s",
    "minhash_index_probe_dedup": "dedup_index.probe_dedup_s",
    "minhash_index_compact": "dedup_index.compact_s",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _snapshot(paths) -> dict:
    out = {}
    for p in paths:
        full = os.path.join(ROOT, p)
        if os.path.isdir(full):
            out[p] = sorted(os.listdir(full))
        else:
            out[p] = os.path.exists(full)
    return out


def _git_commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None


def _loadavg() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat. On
    a virtual machine, steal is time the host gave this machine's CPUs to
    others; a run with a large steal share is slow for reasons outside
    the program."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Session:
    """The engine session. Every ``start`` launches a new JVM, so it
    includes the JVM launch and launch-time conf; ``close`` stops the JVM
    and waits for it to exit."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.spark = None

    def start(self):
        from world_cup_duckdb_spark import get_spark

        self.close()
        self.spark = get_spark(
            "perfbench",
            cpus=_nproc(),
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={self.tmp}/jvm -XX:-UsePerfData"
                ),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with the seconds since start."""
    print(f"perfbench: [{time.perf_counter() - _T0:7.1f}] {msg}",
          file=sys.stderr, flush=True)


def run_pass(wl, i: int, tracer) -> dict:
    """One pass over the workload's op list. Pass wall = sum of op
    latencies (the benchmark's own checking between ops is excluded)."""
    wl.tr = tracer
    results, names, lat, errors = {}, [], [], []
    for name, fn in wl.pass_ops(i):
        t0 = time.perf_counter()
        try:
            with tracer.span(name, "op", pass_no=i):
                out = fn()
        except Exception:
            traceback.print_exc()
            errors.append(name)
            out = None
        names.append(name)
        lat.append(time.perf_counter() - t0)
        after = getattr(fn, "after", None)
        if after is not None:
            after(out)
        results[name] = out
    log(f"pass {i}: {sum(lat):.3f} s over {len(lat)} ops"
        f"{' (traced)' if tracer.enabled else ''}")
    return {"i": i, "traced": tracer.enabled, "results": results,
            "names": names, "lat": lat, "errors": errors}


def op_times(passes: list[dict]) -> dict[str, list[float]]:
    """Op name -> the time the op took in each of ``passes``."""
    per_op: dict[str, list[float]] = {}
    for p in passes:
        took: dict[str, float] = {}
        for name, x in zip(p["names"], p["lat"]):
            took[name] = took.get(name, 0.0) + x
        for name, x in took.items():
            per_op.setdefault(name, []).append(x)
    return per_op


def pass_time(passes: list[dict]) -> float:
    """The time of one pass over the op list: the sum over op names of
    the median, over ``passes``, of the time that op took in a pass. A
    stall of the machine counts only where it hits the same op in most
    passes, so one slow stretch of a shared host moves it less than it
    moves a whole pass's wall time."""
    return sum(statistics.median(v) for v in op_times(passes).values())


def _pass_of(spans: list[dict]) -> dict[int, int]:
    """Span id -> pass number, inherited from the enclosing op span."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, int] = {}

    def find(s):
        if s["id"] in out:
            return out[s["id"]]
        if "pass_no" in s:
            p = s["pass_no"]
        elif s["parent"] is None or s["parent"] not in by_id:
            p = -1
        else:
            p = find(by_id[s["parent"]])
        out[s["id"]] = p
        return p

    for s in spans:
        find(s)
    return out


def layer_metrics(spans: list[dict], passes: list[int], cores: int) -> dict:
    """Per-layer metrics of each traced pass, then their median."""
    from tracing import self_times, union_length

    pass_of = _pass_of(spans)
    per_pass = []
    for p in passes:
        mine = [s for s in spans if pass_of[s["id"]] == p]
        m = dict.fromkeys(PER_LAYER, 0.0)
        for s in mine:
            dur = s["end"] - s["start"]
            if s["layer"] in ("call", "collect"):
                m[f"{s['layer']}.s"] += dur
                c = s.get("counters", {})
                if s["layer"] == "call":
                    m["call.jobs"] += c.get("jobs", 0)
                for k in ("jobs", "stages", "tasks", "executor_run_s",
                          "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                          "shuffle_read_bytes", "input_records"):
                    m[f"exec.{k}"] += c.get(k, 0)
                m["exec.spill_bytes"] += c.get("memory_spill_bytes", 0) + c.get(
                    "disk_spill_bytes", 0)
            elif s["layer"] == "catalyst":
                key = f"catalyst.{s['name']}_s"
                if key in m:
                    m[key] += dur
        m["exec.wall_s"] = union_length(
            [(s["start"], s["end"]) for s in mine if s["layer"] == "exec"])
        m["exec.core_util"] = (
            m["exec.executor_run_s"] / (m["exec.wall_s"] * cores)
            if m["exec.wall_s"] else 0.0)
        for layer, t in self_times(mine).items():
            if f"self.{layer}_s" in m:
                m[f"self.{layer}_s"] = t
        m["trace.spans"] = len(mine)
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER}


def call_medians(spans: list[dict], passes: list[int]) -> dict:
    """Median duration of each engine call in CALL_METRICS over the
    traced passes, or over every traced span for a call made only
    outside them (the table load and index build of the first pass)."""
    pass_of = _pass_of(spans)
    out = {}
    for name, metric in CALL_METRICS.items():
        calls = [s for s in spans if s["layer"] == "call" and s["name"] == name]
        timed = [s for s in calls if pass_of[s["id"]] in passes]
        if calls:
            out[metric] = statistics.median(
                s["end"] - s["start"] for s in (timed or calls))
    return out


def run_workload(name: str, args, tmp: str, session: Session) -> dict:
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    la_before = _loadavg()
    ticks_before = _cpu_ticks()
    wl = WORKLOADS[name](args.seed)
    log(f"{name} inputs generated")
    wl.wrong_expected = args.wrong_expected
    null = NullTracer()
    tracer = Tracer(uuid.uuid4().hex[:12]) if args.trace else null

    # Set-up: a cold session start in a new JVM, input staging and cache
    # warm-up.
    t0 = time.perf_counter()
    spark = session.start()
    t1 = time.perf_counter()
    if args.trace:
        tracer.bind(spark)
    wl.bind(spark, tracer)
    parts = wl.setup(spark, os.path.join(tmp, name, "stage"))
    setup = {"setup_s": time.perf_counter() - t0, "session.start_s": t1 - t0, **parts}
    log(f"{name} set-up: {setup['setup_s']:.3f} s")

    # Untimed warm-up passes, checked; the oracle runs alongside the first.
    oracle_tmp = os.path.join(tmp, name, "duckdb")
    os.makedirs(oracle_tmp)
    wl.start_oracle(oracle_tmp)
    failed, attempted = set(), 0
    for i in range(wl.WARMUP):
        warm = run_pass(wl, i, tracer)
        failed |= set(warm["errors"]) | set(wl.check(warm["results"]))
        attempted += len(warm["lat"])

    # Timed passes for --seconds (at least MIN_PASSES); with tracing, the
    # first, third, ... untraced and the others traced, ending on a traced
    # one.
    passes = []
    t_start = time.perf_counter()
    while not (len(passes) >= MIN_PASSES
               and time.perf_counter() - t_start >= args.seconds
               and (not args.trace or len(passes) % 2 == 0)):
        k = len(passes) + 1
        passes.append(run_pass(wl, wl.WARMUP + len(passes),
                               tracer if k % 2 == 0 else null))
    last = passes[-1]
    failed_ops = sum(len(p["errors"]) for p in passes)
    attempted += sum(len(p["lat"]) for p in passes)
    wrong = set(wl.check(last["results"]))
    final = wl.finish()
    log(f"{name} checks done; wrong: {sorted(failed | wrong | set(final))}")
    failed |= wrong | set(final)
    attempted += len(final)
    n_failed = len(failed) + failed_ops
    wl.tr = tracer
    report = wl.report()
    log(f"{name} report done")

    plain = [p for p in passes if not p["traced"]]
    lat = [x for p in plain for x in p["lat"]]
    metrics = {
        "setup_s": setup["setup_s"],
        "run_s": pass_time(plain),
        "peak_rss_mb": session.jvm_peak_rss_mb(),
    }
    report["failed_ratio"] = n_failed / attempted
    report["op_p50_s"] = statistics.median(lat)
    if len(lat) >= 100:
        report["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    for key in ("catalog.warm_cache_s", "catalog.cached_mb"):
        if key in setup:
            report[key] = setup[key]

    layers = {}
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        layers = layer_metrics(tracer.spans, [p["i"] for p in traced], _nproc())
        layers["session.start_s"] = setup["session.start_s"]
        layers["trace.overhead_s"] = pass_time(traced) - metrics["run_s"]
        report.update(call_medians(tracer.spans, [p["i"] for p in traced]))
        if name != "table_maintenance":
            report["queries.build_s"] = layers["call.s"]
            report["queries.build_jobs"] = layers["call.jobs"]
        spans_path = args.spans or os.path.join(
            ROOT, ".perfbench_out", f"spans-{name}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.write(spans_path)

    import duckdb
    import pyspark

    return {
        "workload": name,
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "failed_ops": sorted(failed | {e for p in passes for e in p["errors"]}),
        "metrics": metrics,
        "layers": layers,
        "report": report,
        "op_s": op_times(plain),
        "env": {
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": _nproc(),
            "loadavg_before": la_before,
            "loadavg_after": _loadavg(),
            "cpu_steal_share": _steal_share(ticks_before, _cpu_ticks()),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
            "commit": _git_commit(),
            "warmup_passes": wl.WARMUP,
            "timed_passes": len(plain),
            "traced_passes": len(passes) - len(plain),
            "setup": setup,
        },
    }


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total else 0.0


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": v, "unit": units.get(k, REPORT_UNITS.get(k, "s"))}
            for k, v in values.items() if v is not None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="JSON-lines span file of a traced run "
                    "(default .perfbench_out/spans-<workload>-seed<seed>.jsonl)")
    ap.add_argument("--wrong-expected", metavar="OP",
                    help="replace OP's expected result hash with a wrong one, "
                    "to show that a mismatch is caught")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "world_cup_duckdb_spark")):
        print(f"perfbench: no engine package in {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    names = list(WORKLOAD_NAMES) if args.workload == "all" else [args.workload]
    checked = {op for n in names for op in WORKLOADS[n].CHECKED}
    if args.wrong_expected is not None and args.wrong_expected not in checked:
        ap.error(f"--wrong-expected {args.wrong_expected}: not a checked op of "
                 f"{args.workload}; one of {', '.join(sorted(checked))}")
    tmp = os.path.join(ROOT, ".perfbench_tmp", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(tmp, "jvm"))
    os.makedirs(os.path.join(tmp, "py"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    before = _snapshot(WATCHED)
    session = Session(tmp)
    records = []
    try:
        for name in names:
            records.append(run_workload(name, args, tmp, session))
    finally:
        session.close()
        log("session stopped")
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    after = _snapshot(WATCHED)
    leaked = [p for p in WATCHED if before[p] != after[p]]

    units = PER_LAYER if args.trace else END_TO_END
    final = {"correct": not leaked, "attempted": 0, "failed": 0, "metrics": {}}
    for r in records:
        chosen = r["layers"] if args.trace else r["metrics"]
        prefix = "" if len(records) == 1 else f"{r['workload']}."
        final["correct"] &= r["correct"]
        final["attempted"] += r["attempted"]
        final["failed"] += r["failed"]
        for k, v in chosen.items():
            final["metrics"][prefix + k] = {"value": v, "unit": units[k]}
        record = {
            "workload": r["workload"],
            "correct": r["correct"],
            "failed_ops": r["failed_ops"],
            "metrics": _with_units(r["metrics"], END_TO_END),
            "layers": _with_units(r["layers"], PER_LAYER),
            "report": _with_units(r["report"], {}),
            "op_s": r["op_s"],
            "env": r["env"],
        }
        print(json.dumps(record))
    if leaked:
        print(f"perfbench: the run changed {leaked} in the repository",
              file=sys.stderr)
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

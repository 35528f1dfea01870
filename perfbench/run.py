#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. A run

1. starts the JVM and SparkContext once, then three times creates a
   session, generates and loads the inputs and runs the warm-up probe;
   ``setup_s`` is the start-up time plus the median repetition;
2. runs every operation once, untimed, and checks its output (the check
   pass; it is also each operation's first, cold execution), then any
   further untimed passes the workload asks for (``warm_passes``);
3. runs whole passes over the operations, in an order drawn from ``--seed``,
   until ``--seconds`` have elapsed, and times each operation;
4. with ``--trace 1``, runs the same number of passes again, each operation
   once untraced and once with spans and Spark's status store recording,
   then every operation once in its staged form, and reports the per-layer
   metrics.

Human-readable lines go to standard output first; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. Metric names and
units are those of ``BENCHMARK.json``. ``--smoke`` runs the tiny sizes of
``workloads.json`` where a workload has them (see ``smoke.py``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
TAIL_LEVELS = (99, 95, 90, 75, 50)


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_kb = int(next(line.split()[1] for line in open("/proc/meminfo")
                      if line.startswith("MemTotal:")))
    return {"cpus": cpus,
            # an eighth of the host's memory, between 1 and 2 GB
            "driver_mem_gb": max(1, min(2, mem_kb // (8 * 1024 * 1024))),
            "load1": os.getloadavg()[0],
            "python": platform.python_version()}


def start_session(host: dict, workdir: Path):
    from pyspark.sql import SparkSession

    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{host['cpus']}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(host["cpus"]))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{host['driver_mem_gb']}g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(workdir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(workdir / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={workdir}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def vm_hwm_mb(pid: int) -> float:
    for line in open(f"/proc/{pid}/status"):
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def tail(latencies: list[float]) -> tuple[int, float]:
    """The highest of TAIL_LEVELS with at least 10 samples above it
    (nearest rank); with fewer than 20 samples, the maximum (level 100)."""
    xs = sorted(latencies)
    for level in TAIL_LEVELS:
        rank = math.ceil(level / 100 * len(xs))
        if len(xs) - rank >= 10:
            return level, xs[rank - 1]
    return 100, xs[-1]


class Counter:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print(f"FAILED {e}", file=sys.stderr)


def attempt(fn, *args) -> tuple[object, list[str]]:
    """Run one operation; an exception is a failed operation, not a crash."""
    try:
        return fn(*args), []
    except Exception as exc:  # the loop must keep measuring; report it
        traceback.print_exc(file=sys.stderr)
        return None, [f"{type(exc).__name__}: {exc}"]


def timed_loop(wl, ops, rng: random.Random, seconds: float, counter: Counter,
               passes: int | None = None) -> tuple[list[tuple], float, int]:
    """Whole passes until ``seconds`` elapsed (or exactly ``passes``)."""
    samples = []
    start = time.perf_counter()
    done = 0
    while True:
        for op in rng.sample(ops, len(ops)):
            t0 = time.perf_counter()
            result, errors = attempt(wl.run, op)
            dt = time.perf_counter() - t0
            if not errors:
                errors = wl.verify(op, result)
            counter.record(errors)
            samples.append((op, dt))
        done += 1
        elapsed = time.perf_counter() - start
        if (passes is not None and done >= passes) or (passes is None and elapsed >= seconds):
            return samples, elapsed, done


def traced_loop(spark, store, wl, ops, rng, passes: int, counter: Counter,
                spans_path: Path) -> list[dict]:
    """The timed loop's number of passes again, each operation run twice in
    a row: once as in the timed loop and once traced, the order alternating
    from one operation to the next, so that the two walls of a pair compare
    the same work at the same moment. Traced means spans recorded around the
    calls into each layer, a job group set for the operation, and Spark's
    status store read after it, outside its span. One record per operation;
    the spans are written to ``spans_path`` at the end."""
    from spans import Tracer

    tracer = Tracer(spark)
    records = []
    try:
        for _ in range(passes):
            for op in rng.sample(ops, len(ops)):
                if len(records) % 2:
                    rec = trace_op(spark, store, tracer, wl, op, counter)
                    untraced = untraced_op(store, wl, op, counter)
                else:
                    untraced = untraced_op(store, wl, op, counter)
                    rec = trace_op(spark, store, tracer, wl, op, counter)
                records.append({**rec, "untraced": untraced})
    finally:
        spans_path.parent.mkdir(exist_ok=True)
        tracer.dump(spans_path)
    jobs = sum(r["spark.jobs"] for r in records)
    print(f"traced: {len(records)} operations, {jobs} jobs, "
          f"{sum(r['jobs_in_group'] for r in records)} of them in the operation's job group; "
          f"spans in {spans_path.relative_to(ROOT)}")
    return records


def untraced_op(store, wl, op, counter: Counter) -> float:
    store.drain()  # as the traced operation's watermark read does
    t0 = time.perf_counter()
    result, errors = attempt(wl.run, op)
    dt = time.perf_counter() - t0
    counter.record(errors or wl.verify(op, result))
    return dt


def trace_op(spark, store, tracer, wl, op, counter: Counter) -> dict:
    from spans import interval_overlap, interval_union, stage_totals

    tracer.op += 1
    group = f"perfbench-{tracer.op}"
    spark.sparkContext.setJobGroup(group, f"{op.kind} {op.name}")
    watermark = store.last_job_id()
    rdds_before = tracer.persisted_rdds()
    tracer.install(getattr(wl, "queries", {}))
    try:
        root = tracer.begin(f"{op.kind}:{op.name}", "driver")
        result, errors = attempt(wl.run, op)
        span = tracer.end(root)
    finally:
        tracer.uninstall()
    counter.record(errors or wl.verify(op, result))

    jobs = store.jobs_after(watermark)
    stages = store.stages({s for j in jobs for s in j["stages"]})
    wall = span.end - span.start
    in_jobs = interval_overlap(span.start, span.end,
                               interval_union([(j["start"], j["end"]) for j in jobs]))
    return {"wall": wall, "spark.jobs": len(jobs),
            "jobs_in_group": sum(j["group"] == group for j in jobs),
            "driver.outside_jobs_s": wall - in_jobs,
            "materialize.persisted_rdds_peak": max(
                s.rdds for s in tracer.spans if s.op == tracer.op),
            "materialize.leaked_rdds": span.rdds - rdds_before,
            **stage_totals(stages),
            "layers": tracer.layer_self_times(tracer.op, jobs)}


def staged_pass(store, wl, ops, counter: Counter) -> list[dict]:
    """Every operation once in its staged form (the workload's ``staged``), which
    times its layers one by one and counts its outputs' rows."""
    records = []
    for op in ops:
        result, errors = attempt(wl.staged, op, store)
        metrics, op_errors = result if result else ({}, [])
        counter.record(errors or op_errors)
        records.append(metrics)
    return records


def end_to_end(setups, samples, elapsed, wl, counter, pids) -> dict:
    lat = [dt for _, dt in samples]
    level, tail_s = tail(lat)
    work = sum(wl.messages(op) for op, _ in samples)
    print(f"latency: n={len(lat)} p50={statistics.median(lat):.4f}s "
          f"tail=p{level} {tail_s:.4f}s; failed_ratio={counter.failed / counter.attempted:.4f}")
    return {
        "setup_s": (statistics.median(setups), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_s, "s"),
        "throughput_per_s": (work / elapsed, "1/s"),
        "ok_ratio": ((counter.attempted - counter.failed) / counter.attempted, "ratio"),
        "peak_rss_mb": (sum(vm_hwm_mb(p) for p in pids), "MB"),
    }


def per_layer(records: list[dict], staged: list[dict], samples) -> dict:
    from spans import LAYERS

    def mean(key: str, recs: list[dict]) -> float:
        vals = [r[key] for r in recs if key in r]
        return sum(vals) / len(vals) if vals else 0.0

    def op_mean(kind: str, name: str) -> float:
        vals = [dt for op, dt in samples if op.kind == kind and op.name == name]
        return sum(vals) / len(vals) if vals else 0.0

    traced_wall = sum(r["wall"] for r in records)
    out = {}
    for key, unit in (("spark.jobs", "count"), ("spark.stages", "count"),
                      ("spark.tasks", "count"), ("driver.outside_jobs_s", "s"),
                      ("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"),
                      ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
                      ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
                      ("materialize.persisted_rdds_peak", "count"),
                      ("materialize.leaked_rdds", "count")):
        out[key] = (mean(key, records), unit)
    for key, unit in (("registry.construct_s", "s"), ("registry.construct_jobs", "count"),
                      ("registry.exec_s", "s"), ("catalyst.plan_s", "s"),
                      ("plan.exchanges", "count"), ("plan.arrow_boundary_nodes", "count"),
                      ("sources.parse_s", "s"), ("operators.decode_transfers_s", "s"),
                      ("operators.parse_swaps_s", "s"), ("operators.engineer_transactions_s", "s"),
                      ("operators.aggregate_by_block_s", "s"), ("pipeline.run_batch_s", "s"),
                      ("plans.canonical_sql_s", "s"), ("plans.transpile_s", "s"),
                      ("sources.malformed_rows", "rows"), ("operators.transfers_rows", "rows"),
                      ("operators.swaps_rows", "rows"), ("operators.transactions_rows", "rows"),
                      ("operators.block_agg_rows", "rows"),
                      ("serving.response_bytes", "bytes")):
        out[key] = (mean(key, staged), unit)
    out["query.dedup_minhash_lsh_s"] = (op_mean("query", "dedup_minhash_lsh"), "s")
    for route in ("var", "il", "mev", "transfers"):
        out[f"serving.{route}_s"] = (op_mean("route", f"/api/{route}"), "s")
    for layer in LAYERS:
        out[f"layer.{layer}_s"] = (
            sum(r["layers"][layer] for r in records) / len(records), "s")
    out["trace.overhead_ratio"] = (
        traced_wall / sum(r["untraced"] for r in records) - 1, "ratio")
    out["trace.uncovered_ratio"] = (
        sum(r["layers"]["driver"] for r in records) / traced_wall, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    config = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in config or args.workload == "predictions":
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = config[args.workload]
    sizes = spec.get("smoke_sizes", spec["sizes"]) if args.smoke else spec["sizes"]

    # The package is imported from the repository root, by this process and
    # by Spark's Python workers (which inherit PYTHONPATH from the JVM).
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    try:
        import pyspark

        import __spark_entry__  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    host = host_info()
    print(f"host: cpus={host['cpus']} load1={host['load1']:.2f} "
          f"driver_mem={host['driver_mem_gb']}g spark={pyspark.__version__} "
          f"python={host['python']} workload={args.workload} seed={args.seed}")
    workdir = ROOT / ".perfbench_work" / str(os.getpid())
    workdir.mkdir(parents=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    # no hsperfdata files in the system temp directory from either JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    base = None
    try:
        # Spark cannot be restarted inside one process (module-level UDFs
        # keep the first context's accumulator), so the JVM and SparkContext
        # start once; the rest of set-up is repeated on fresh sessions.
        t0 = time.perf_counter()
        base = start_session(host, workdir)
        context_s = time.perf_counter() - t0
        preps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = base.newSession()
            wl = WORKLOADS[args.workload](spark, sizes, args.seed, host["cpus"], workdir)
            preps.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                wl.close()
        setups = [context_s + p for p in preps]
        print(f"setup: context start {context_s:.3f}s, then per repetition "
              + " ".join(f"{p:.3f}s" for p in preps))

        counter = Counter()
        ops = wl.ops()
        t0 = time.perf_counter()
        for op in ops:
            check_errors, errors = attempt(wl.check, op)
            counter.record(errors or check_errors)
        print(f"check pass: {len(ops)} operations in {time.perf_counter() - t0:.3f}s, "
              f"{counter.failed} failed")

        rng = random.Random(args.seed)
        if sizes.get("warm_passes"):
            t0 = time.perf_counter()
            timed_loop(wl, ops, rng, 0, counter, passes=sizes["warm_passes"])
            print(f"warm: {sizes['warm_passes']} untimed passes in {time.perf_counter() - t0:.3f}s")
        samples, elapsed, passes = timed_loop(wl, ops, rng, args.seconds, counter)
        print(f"timed: {passes} passes, {len(samples)} operations in {elapsed:.3f}s: "
              + " ".join(f"{op.name}={dt:.3f}" for op, dt in samples))

        if args.trace:
            from spans import StatusStore

            spans_path = ROOT / ".perfbench_spans" / f"{args.workload}-seed{args.seed}.jsonl"
            store = StatusStore(spark)
            records = traced_loop(spark, store, wl, ops, rng, passes, counter, spans_path)
            staged = staged_pass(store, wl, ops, counter)
            metrics = per_layer(records, staged, samples)
        else:
            from pyspark import SparkContext

            pids = [os.getpid(), SparkContext._gateway.proc.pid]
            metrics = end_to_end(setups, samples, elapsed, wl, counter, pids)
        wl.close()
    finally:
        if base is not None:
            stop_session(base)
        shutil.rmtree(workdir, ignore_errors=True)

    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

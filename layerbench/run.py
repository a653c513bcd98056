"""Run one benchmark workload by name and seed; print its metrics.

    python3 layerbench/run.py --workload etl_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line
holds the end-to-end metrics, measured with tracing off. With
``--trace 1`` the run alternates untraced and traced passes, and the
last line holds the per-layer metrics. The line before it is the
full record: host stamp, every metric, output-check failures.
Everything the run writes goes under ``.layerbench/`` and is removed at
the end. See layerbench/README.md for the metric and workload list.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E = {"setup_s": "s", "pass_s": "s", "commit_p50_s": "s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads: half the cores. The JVM's JIT compiler threads
    stay busy through a whole run (a query pass's CPU time is still
    falling after six passes) and the Python driver and workers need
    cores too; with a task thread on every core, each stalled core held
    up a whole stage. In interleaved runs on a 4-core guest whose
    neighbours stole 1-20% of the CPU, analytics_sf01 read 20% faster
    on local[2] than on local[4], and its run-to-run spread fell from
    0.34 to 0.13 of the median; etl_refresh read the same on both."""
    return max(1, nproc() // 2)


def start_session(work: str, trace: bool):
    """The engine's own session factory, with every file it writes kept
    under ``work`` and, for traced runs, an uncompressed event log."""
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(task_slots()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            # the zstd codec's Python module is not installed
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.scheduler.listenerbus.eventqueue.capacity": "100000",
        })
    from net7_etl_bus_spark.session import get_spark

    spark = get_spark("layerbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def retained_storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share stolen by other
    guests on a shared host shows in every timing of the run."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_stamp(spark) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    return {"master": sc.master, "default_parallelism": sc.defaultParallelism,
            "nproc": nproc(), "spark": pyspark.__version__,
            "python": sys.version.split()[0], "duckdb": duckdb.__version__}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the Spark JVM, its Python workers), reaped children included."""
    me, parents, cpu = os.getpid(), {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listed
        parents[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parents.get(p, 0)
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def timed_pass(wl, tracer=None) -> dict:
    """One pass, stamped with the share of CPU time stolen during it and
    the CPU seconds it used."""
    before, cpu0 = cpu_ticks(), tree_cpu_s()
    p = wl.one_pass(tracer)
    after, cpu1 = cpu_ticks(), tree_cpu_s()
    p["steal"] = (after[0] - before[0]) / max(1, after[1] - before[1])
    p["cpu"] = cpu1 - cpu0
    return p


def measure(wl, seconds: float) -> list[dict]:
    """Whole passes until ``seconds`` have gone by, and at least the
    workload's ``min_passes``."""
    passes, t0 = [], time.perf_counter()
    while len(passes) < wl.min_passes or time.perf_counter() - t0 < seconds:
        passes.append(timed_pass(wl))
    return passes


def measure_traced(wl, seconds: float, tracer, footprint):
    """Pairs of one untraced and one traced pass, the order swapping each
    pair, until ``seconds`` have gone by on each side (and at least
    ``min_passes`` pairs). Returns the
    untraced and the traced passes; their figures differ by the tracing
    overhead, with warming spread evenly over both."""
    from layerbench import layers

    plain, traced, t0 = [], [], time.perf_counter()
    while len(traced) < wl.min_passes or time.perf_counter() - t0 < 2 * seconds:
        for on in (False, True) if len(traced) % 2 == 0 else (True, False):
            if not on:
                plain.append(timed_pass(wl))
                continue
            layers.install(tracer, wl.kind, footprint)
            try:
                traced.append(timed_pass(wl, tracer))
            finally:
                tracer.restore()
    return plain, traced


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    """The end-to-end metrics of the timed passes. Every pass does the
    same work, and a shared host only ever adds time to it (stolen CPU,
    a neighbour's cache traffic), so each operation's fastest time over
    the passes is its estimate; it also leaves out the JIT warming that
    is left after set-up. A query mix takes each query's minimum and sums
    them; an ETL pass, one drain, is its own operation."""
    commits = [c for p in passes for c in p["commits"]] or [float("nan")]
    if "per_key" in passes[0]:
        best = {k: min(p["per_key"][k] for p in passes) for k in passes[0]["per_key"]}
        pass_s, commit_p50_s = sum(best.values()), statistics.median(best.values())
    else:
        pass_s, commit_p50_s = min(p["wall"] for p in passes), min(commits)
    out = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "commit_p50_s": commit_p50_s,
        "commit_max_s": max(commits),
        "commit_n": len(commits),
        "passes": len(passes),
        "pass_walls": [p["wall"] for p in passes],
        "pass_steal": [p["steal"] for p in passes],
        "pass_cpus": [p["cpu"] for p in passes],
        "pass_commits": [p["commits"] for p in passes],
    }
    if "per_key" in passes[0]:
        out["pass_per_key"] = [p["per_key"] for p in passes]
    else:
        # a pass upserts a fixed number of rows, so this is pass_s restated
        out["upserted_rows_per_s"] = statistics.median(p["rows"] for p in passes) / pass_s
    return out


def run(args) -> dict:
    from layerbench import layers
    from layerbench.trace import Tracer, parse_event_log
    from layerbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".layerbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            t1 = time.perf_counter()
            wl.setup()
            build_s = time.perf_counter() - t1
            warm_s = wl.warm()
            setup_s = session_s + build_s + warm_s
            if args.trace:
                tracer, footprint = Tracer(spark.sparkContext), layers.MergeFootprint()
                passes, traced = measure_traced(wl, args.seconds, tracer, footprint)
            else:
                passes, traced = measure(wl, args.seconds), []
            record = end_to_end(passes, setup_s)
            record["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            record["storage.retained_mb"] = retained_storage_mb(spark)
            record["setup"] = {"session_s": session_s, "build_s": build_s, "warm_s": warm_s}
            problems = wl.check()
            record["host"] = host_stamp(spark)
        finally:
            stop_session(spark)
        if args.trace:
            logs = os.listdir(f"{work}/eventlog")
            groups = parse_event_log(os.path.join(work, "eventlog", logs[0]))
            par = record["host"]["default_parallelism"]
            if wl.kind == "etl":
                lay = layers.etl_metrics(tracer, groups, traced, footprint, par)
            else:
                lay = layers.query_metrics(tracer, groups, traced, par)
            lay["trace.overhead_s"] = end_to_end(traced, 0.0)["pass_s"] - record["pass_s"]
            lay["storage.retained_mb"] = record["storage.retained_mb"]
            lay["jvm.peak_rss_mb"] = record["jvm.peak_rss_mb"]
            record["layers"] = {k: lay.get(k, 0.0) for k in layers.PER_LAYER}
            record["layers_extra"] = {k: v for k, v in lay.items()
                                      if k not in layers.PER_LAYER}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks_after = cpu_ticks()
    n_ops = sum(p["ops"] for p in passes + traced)
    failed_ops = sum(p["ops"] for p in passes + traced if not p["ok"])
    if problems:
        failed_ops = n_ops  # a wrong output taints every operation of the run
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": n_ops, "failed": failed_ops, "fail_frac": failed_ops / n_ops,
        "problems": problems, "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "steal_frac": (ticks_after[0] - ticks_before[0]) / max(1, ticks_after[1] - ticks_before[1]),
    })
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "net7_etl_bus_spark")):
        print("layerbench: the engine package net7_etl_bus_spark is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # mapInPandas workers import the engine and this package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    record = run(args)
    if args.trace:
        from layerbench.layers import PER_LAYER

        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in record["layers"].items()}
    else:
        metrics = {k: {"value": record[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": not record["problems"] and record["failed"] == 0,
                      "attempted": record["attempted"], "failed": record["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

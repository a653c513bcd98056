"""Per-layer metrics of a traced run.

``install`` patches the engine's public functions with tracer spans.
``etl_metrics`` and ``query_metrics`` turn the spans, the event-log
group stats and the pass records into per-pass layer metrics.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from layerbench.trace import GroupStats, Span, Tracer, descendants, self_times
from layerbench.workloads import Analytics

MB = 1024 * 1024

# name -> unit. Every traced run reports all of them; a layer a workload
# does not use reads 0.
PER_LAYER = {
    "build.s": "s", "build.jobs": "count", "build.checkpoints": "count",
    "build.checkpoint_s": "s", "probes.calls": "count", "probes.s": "s",
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.sched_delay_s": "s", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.core_util": "ratio",
    "etl.checksum_s": "s", "etl.gate_s": "s", "etl.dedup_check_s": "s", "etl.count_s": "s",
    "etl.run_jobs": "count", "etl.gated_run_s": "s", "etl.todo_ratio": "ratio",
    "etl.unattributed_s": "s",
    "enrich.api_calls": "count", "enrich.calls_per_row": "ratio", "enrich.tasks": "count",
    "enrich.s": "s", "enrich.inflight_mean": "ratio",
    "merge.s": "s", "merge.jobs": "count", "merge.buckets_touched": "count",
    "merge.bytes_written_mb": "MB", "merge.rows_rewritten_per_upserted": "ratio",
    "target.files": "count", "control.s": "s", "control.jobs": "count",
    "stream.pickup_s": "s", "stream.overhead_s": "s", "stream.batches": "count",
    "etl.accounted_frac": "ratio", "storage.retained_mb": "MB", "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
for _k in Analytics.keys:
    PER_LAYER[f"q.{_k}.build_s"] = "s"
    PER_LAYER[f"q.{_k}.exec_s"] = "s"


def install(tracer: Tracer, kind: str, footprint: "MergeFootprint") -> None:
    """Wrap the public functions of every layer the workload reaches;
    ``footprint`` sees the target's files around every upsert."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from net7_etl_bus_spark import pipeline, probes
    from net7_etl_bus_spark.sources import sinks
    from net7_etl_bus_spark.streaming import trigger

    # In Spark 4.1 the methods live on the classic DataFrame; patching
    # pyspark.sql.DataFrame records nothing.
    tracer.patch(DataFrame, "count")
    tracer.patch(DataFrame, "localCheckpoint")
    tracer.patch(probes, "exists", "probes.exists")
    tracer.patch(probes, "materialized_nonempty", "probes.materialized_nonempty")
    if kind != "etl":
        return
    tracer.patch(trigger, "process_triggers_available_now", "drain")
    tracer.patch(DataStreamWriter, "foreachBatch", "foreachBatch", wrap_arg=1)
    tracer.patch(trigger, "run_etl")
    for fn in ("file_checksum", "evaluate_run_gate", "dedup_incoming", "read_zip_csv",
               "valid_processed_keys", "enrich_dataframe"):
        tracer.patch(pipeline, fn)
    tracer.patch(sinks, "control_insert_running")
    tracer.patch(sinks, "control_finalize")
    tracer.patch(sinks, "upsert_parquet")
    traced = sinks.upsert_parquet

    def upsert_with_footers(spark, updates, path, *a, **kw):
        with tracer.span("tracing"):  # bookkeeping, kept out of merge.s
            before = parquet_files(path)
        traced(spark, updates, path, *a, **kw)
        with tracer.span("tracing"):
            footprint(path, before, parquet_files(path))

    sinks.upsert_parquet = upsert_with_footers  # restore() puts the original back


def parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """Relative path -> (inode, size) of every parquet file under ``path``."""
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(dp, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_ino, st.st_size)
    return out


class MergeFootprint:
    """Compares a target's parquet files and footers before and after an
    upsert: buckets touched, bytes and rows written, files left."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def __call__(self, target: str, before: dict, after: dict) -> None:
        import pyarrow.parquet as pq

        new = [p for p, v in after.items() if before.get(p) != v]
        self.records.append({
            "buckets": len({os.path.dirname(p) for p in new}),
            "bytes": sum(after[p][1] for p in new),
            "rows": sum(pq.ParquetFile(os.path.join(target, p)).metadata.num_rows
                        for p in new),
            "files": len(after),
        })


def _stats(groups: dict, spans: list[Span]) -> GroupStats:
    out = GroupStats()
    for s in spans:
        if s.group in groups:
            out.add(groups[s.group])
    return out


def _exec_metrics(st: GroupStats, wall: float, parallelism: int, n: int) -> dict:
    return {
        "exec.jobs": st.jobs / n, "exec.stages": st.stages / n, "exec.tasks": st.tasks / n,
        "exec.task_run_s": st.task_run_s / n, "exec.task_cpu_s": st.task_cpu_s / n,
        "exec.gc_s": st.gc_s / n, "exec.sched_delay_s": st.sched_delay_s / n,
        "exec.shuffle_read_mb": st.shuffle_read_b / MB / n,
        "exec.shuffle_write_mb": st.shuffle_write_b / MB / n,
        "exec.spill_mb": st.spill_b / MB / n,
        "exec.core_util": st.task_run_s / (wall * parallelism) if wall else 0.0,
    }


def _build_metrics(spans: list[Span], builds: list[Span], groups: dict, n: int) -> dict:
    inside = [d for b in builds for d in descendants(spans, b.id)]
    ckpt = [s for s in inside if s.name == "localCheckpoint"]
    probe = [s for s in inside if s.name.startswith("probes.")]
    return {
        "build.s": sum(b.dur for b in builds) / n,
        "build.jobs": _stats(groups, inside).jobs / n,
        "build.checkpoints": len(ckpt) / n,
        "build.checkpoint_s": sum(s.dur for s in ckpt) / n,
        "probes.calls": len(probe) / n,
        "probes.s": sum(s.dur for s in probe) / n,
    }


def query_metrics(tracer: Tracer, groups: dict, passes: list[dict], parallelism: int) -> dict:
    """Build, plan and execute split of traced query passes. A write's
    planning ends when its SQL execution starts (the start event is
    posted once the physical plan exists)."""
    spans, n = tracer.spans, len(passes)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    writes = by_name["write"]
    plan_s = exec_s = 0.0
    per_key = defaultdict(lambda: {"build": [], "exec": []})
    for w in writes:
        starts = groups.get(w.group, GroupStats()).sql_starts
        begin = min([t for t in starts if t >= w.t0 - 0.01] or [w.t0])
        begin = min(max(begin, w.t0), w.t1)
        plan_s += begin - w.t0
        exec_s += w.t1 - begin
        per_key[w.attrs["key"]]["exec"].append(w.t1 - begin)
    for b in by_name["build"]:
        per_key[b.attrs["key"]]["build"].append(b.dur)
    out = _build_metrics(spans, by_name["build"], groups, n)
    out["plan.s"] = plan_s / n
    out["exec.s"] = exec_s / n
    out.update(_exec_metrics(_stats(groups, writes), exec_s, parallelism, n))
    for key, v in per_key.items():
        out[f"q.{key}.build_s"] = statistics.median(v["build"])
        out[f"q.{key}.exec_s"] = statistics.median(v["exec"]) if v["exec"] else 0.0
    return out


def etl_metrics(tracer: Tracer, groups: dict, passes: list[dict], footprint: MergeFootprint,
                parallelism: int) -> dict:
    """Pipeline, enrichment, sink and streaming metrics of traced ETL
    passes, per pass."""
    spans, n = tracer.spans, len(passes)
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def total(name: str, parent: str | None = None) -> float:
        return sum(s.dur for s in by_name[name]
                   if parent is None or by_id.get(s.parent, Span(0, "", None, 0)).name == parent)

    def jobs_under(name: str) -> int:
        return _stats(groups, [d for s in by_name[name] for d in descendants(spans, s.id)]).jobs

    runs = by_name["run_etl"]
    # A run that reached control_insert_running was not gated.
    real_ids = {s.parent for s in by_name["control_insert_running"]}
    real = [r for r in runs if r.id in real_ids]
    gated = [r for r in runs if r.id not in real_ids]
    drains = by_name["drain"]
    wall = sum(d.dur for d in drains)
    run_in_drains = sum(r.dur for r in runs)

    # pickup: message creation -> entry of the run it fired
    pickups = []
    for p in passes:
        starts = [r.t0 for r in real if r.t0 >= p["created"]]
        if starts:
            pickups.append(min(starts) - p["created"])

    calls = [p["calls"] for p in passes]
    api = sum(c[1] for c in calls)
    window = sum(max(0.0, c[4] - c[3]) for c in calls if c[1])
    todo = sum(p["to_process"] for p in passes)
    incoming = sum(p["incoming"] for p in passes)
    upserted = sum(p["rows"] for p in passes)
    fp = footprint.records
    everything = [s for s in spans if s.name != "tracing"]

    out = {
        "etl.checksum_s": total("file_checksum") / n,
        "etl.gate_s": total("evaluate_run_gate") / n,
        "etl.dedup_check_s": total("dedup_incoming") / n,
        "etl.count_s": total("count", parent="run_etl") / n,
        "etl.run_jobs": (sum(_stats(groups, descendants(spans, r.id)).jobs for r in real)
                         / max(1, len(real))),
        "etl.gated_run_s": statistics.median([g.dur for g in gated]) if gated else 0.0,
        "etl.todo_ratio": todo / incoming if incoming else 0.0,
        "etl.unattributed_s": sum(selfs[r.id] for r in runs) / n,
        "enrich.api_calls": api / n,
        "enrich.calls_per_row": api / todo if todo else 0.0,
        "enrich.tasks": sum(c[0] for c in calls) / n,
        "enrich.s": window / n,
        "enrich.inflight_mean": sum(c[2] for c in calls) / window if window else 0.0,
        "merge.s": total("upsert_parquet") / n,
        "merge.jobs": jobs_under("upsert_parquet") / n,
        "merge.buckets_touched": sum(r["buckets"] for r in fp) / max(1, len(fp)),
        "merge.bytes_written_mb": sum(r["bytes"] for r in fp) / MB / max(1, len(fp)),
        "merge.rows_rewritten_per_upserted": (sum(r["rows"] for r in fp) / upserted
                                              if upserted else 0.0),
        "target.files": fp[-1]["files"] if fp else 0,
        "control.s": (total("control_insert_running") + total("control_finalize")) / n,
        "control.jobs": (jobs_under("control_insert_running")
                         + jobs_under("control_finalize")) / n,
        "stream.pickup_s": statistics.median(pickups) if pickups else 0.0,
        "stream.overhead_s": (wall - run_in_drains) / n,
        "stream.batches": len(by_name["foreachBatch.fn"]) / n,
        "etl.accounted_frac": ((wall - sum(selfs[r.id] for r in runs)) / wall
                               if wall else 0.0),
    }
    out.update(_exec_metrics(_stats(groups, everything), wall, parallelism, n))
    return out

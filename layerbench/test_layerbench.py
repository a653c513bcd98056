"""Self-tests of the benchmark: input determinism, span arithmetic,
event-log parsing on a tiny Spark run, the per-operation minimum over
passes, and BENCHMARK.json agreeing with the metric names the runner
prints.

    python -m pytest layerbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from layerbench.gen import Queue, ZipUniverse  # noqa: E402
from layerbench.trace import Span, Tracer, covered, descendants, parse_event_log, self_times  # noqa: E402


def _drop(tmp_path, seed: int, name: str) -> bytes:
    u = ZipUniverse(seed)
    u.grow(2000)
    u.grow(20)
    with open(u.write_csv(str(tmp_path / name)), "rb") as f:
        return f.read()


def test_same_seed_gives_identical_files(tmp_path):
    a, b = _drop(tmp_path, 7, "a.csv"), _drop(tmp_path, 7, "b.csv")
    assert a == b
    assert a != _drop(tmp_path, 8, "c.csv")
    lines = a.decode().splitlines()
    assert len(lines) == 2021
    keys = {(r.split(",")[3], r.split(",")[2]) for r in lines[1:]}
    assert len(keys) == 2020  # every (zip, state) key is distinct


def test_trigger_files_are_deterministic(tmp_path):
    contents = []
    for d in ("q1", "q2"):
        q = Queue(str(tmp_path / d))
        names = [q.send(), q.send(force_run=True)]
        assert set(q.created) == set(names)
        contents.append(
            [(n, open(os.path.join(q.dir, n), "rb").read()) for n in sorted(os.listdir(q.dir))]
        )
    assert contents[0] == contents[1]
    assert contents[0][0][1] == b'{"ForceRun": false}\n'


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(6)
    assert covered((0, 10), [(-5, -1), (11, 12)]) == 0
    assert covered((0, 10), [(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_is_span_minus_children():
    spans = [
        Span(1, "run", None, 0.0, 10.0),
        Span(2, "gate", 1, 1.0, 3.0),
        Span(3, "count", 2, 1.5, 2.5),
        Span(4, "merge", 1, 4.0, 9.0),
        Span(5, "other", None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 2 - 5)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[5] == pytest.approx(1.0)
    # the self times of a subtree add up to its root's duration
    assert sum(st[s.id] for s in descendants(spans, 1)) == pytest.approx(10.0)
    assert {s.id for s in descendants(spans, 2)} == {2, 3}


def test_event_log_groups_jobs_by_span(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]").appName("layerbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        tracer = Tracer(spark.sparkContext)
        with tracer.span("outer") as outer:
            spark.range(100).count()
            with tracer.span("inner") as inner:
                spark.range(100).repartition(2).groupBy().count().collect()
        spark.range(10).count()  # outside every span
    finally:
        spark.stop()
    groups = parse_event_log(str(log_dir / os.listdir(log_dir)[0]))
    assert groups[outer.group].jobs >= 1 and groups[outer.group].tasks >= 1
    assert groups[inner.group].jobs >= 1
    assert groups[inner.group].shuffle_write_b > 0
    assert groups[inner.group].sql_starts  # DataFrame jobs carry their SQL start
    assert groups[None].jobs >= 1
    assert inner.parent == outer.id


def _pass(wall: float, per_key: dict | None = None) -> dict:
    p = {"wall": wall, "steal": 0.0, "cpu": 1.0, "rows": 10,
         "commits": list(per_key.values()) if per_key else [wall]}
    if per_key:
        p["per_key"] = per_key
    return p


def test_an_etl_run_reports_its_fastest_pass():
    from layerbench import run

    e2e = run.end_to_end([_pass(3.0), _pass(1.0), _pass(2.0)], 5.0)
    assert (e2e["setup_s"], e2e["pass_s"], e2e["commit_p50_s"]) == (5.0, 1.0, 1.0)
    assert e2e["upserted_rows_per_s"] == 10.0


def test_a_query_mix_sums_each_querys_fastest_time():
    from layerbench import run

    passes = [_pass(9.0, {"a": 1.0, "b": 4.0, "c": 2.0}),
              _pass(9.0, {"a": 3.0, "b": 2.0, "c": 5.0})]
    e2e = run.end_to_end(passes, 5.0)
    assert (e2e["pass_s"], e2e["commit_p50_s"]) == (5.0, 2.0)
    assert "upserted_rows_per_s" not in e2e


def test_measure_runs_at_least_the_minimum_passes(monkeypatch):
    from layerbench import run

    monkeypatch.setattr(run, "timed_pass", lambda wl, tracer=None: _pass(1.0))
    assert len(run.measure(type("W", (), {"min_passes": 3})(), 0.0)) == 3


def test_benchmark_json_names_match_the_runner():
    from layerbench.layers import PER_LAYER
    from layerbench.run import E2E

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER

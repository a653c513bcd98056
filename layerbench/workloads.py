"""The benchmark's workloads. Each is a closed loop driven from this
process: a pass starts only after the previous one returned.

A workload has ``setup()``; ``warm()``, which returns the seconds of
warm-up that count as set-up; ``one_pass(tracer=None)``, which returns
the pass record (ETL passes are traced through patched engine
functions, query passes through spans around each build and write); and
``check()``, which returns failure messages. Warm-up and checks run
outside the timed region. The engine is called only through its public entry
points: ``streaming.trigger.process_triggers_available_now`` for ETL and
``plans.registry.queries()`` plus a ``noop`` write for queries.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

from layerbench.gen import ClientFactory, Queue, ZipUniverse, expected_enrichment
from net7_etl_bus_spark.sources import sinks
from net7_etl_bus_spark.streaming import trigger

GATED = "duplicate-run gate"


class EtlWorkload:
    """Shared driving code of the ETL workloads: publish a CSV drop,
    send its trigger messages, drain the queue once."""

    kind = "etl"
    latency_s = 0.0
    # the minimum, not the clock, ends a run on a busy host, so a slow run
    # still times its operations after as much warming as a fast one
    min_passes = 4

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.drops: list[str] = []  # every drop a real trigger fired on
        self.problems: list[str] = []

    def drain(self, csv_path: str, target: str, control: str, queue: Queue,
              ckpt: str, n_messages: int) -> dict:
        factory = ClientFactory(self.spark.sparkContext, self.latency_s)
        done: list[tuple[float, object]] = []
        first = None
        for _ in range(n_messages):
            name = queue.send()
            first = first or queue.created[name]
        trigger.process_triggers_available_now(
            self.spark, queue.dir, ckpt, csv_path, target, control,
            on_run=lambda r: done.append((time.time(), r)),
            client_factory=factory,
        )
        end = time.time()
        self.drops.append(csv_path)
        complete = [(t, r) for t, r in done if r.reason == "complete"]
        gated = [r for _, r in done if r.reason.startswith(GATED)]
        ok = len(done) == n_messages and len(complete) == 1 and len(gated) == n_messages - 1
        if not ok:
            self.problems.append(
                f"{os.path.basename(csv_path)}: run reasons {[r.reason for _, r in done]}"
            )
        res = complete[0][1] if complete else None
        return {
            "ok": ok,
            "ops": n_messages,
            "wall": end - first,
            "commits": [complete[0][0] - first] if complete else [],
            "created": first,
            "rows": res.rows_upserted if res else 0,
            "incoming": res.rows_incoming if res else 0,
            "to_process": res.rows_to_process if res else 0,
            "calls": factory.stats.value,
        }

    def warm(self, n_passes: int = 1) -> float:
        """A fixed number of warm-up passes, so set-up does the same work
        in every run. A fresh JVM's first pass takes about three times a
        warm one, the second about 1.2 times; taking each operation's
        fastest timed pass leaves out what warming is left."""
        t0 = time.perf_counter()
        for _ in range(n_passes):
            self.one_pass()
        return time.perf_counter() - t0

    def check_control(self, control: str, drops: list[str]) -> None:
        """Every real drop has a Complete control row with its checksum,
        and no row is left Running."""
        rows = pq.read_table(control).to_pylist()
        if any(r["Status"] == "Running" for r in rows):
            self.problems.append("control table has a row left Running")
        done = {(r["FileName"], r["FileChecksum"]) for r in rows if r["Status"] == "Complete"}
        for d in drops:
            with open(d, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            if (os.path.basename(d), digest) not in done:
                self.problems.append(f"no Complete control row for {os.path.basename(d)}")

    def check_target(self, target: str, rows) -> None:
        """The target equals the CSV keys enriched by the mock's f(zip),
        recomputed here without Spark."""
        cols = ["CompositeKey", "ZipCode", "State", "StateCode", "County", "City",
                "Latitude", "Longitude", "Elevation", "Timezone"]
        # the bucket dirs (__bucket=k) start with "_", which pyarrow skips by default
        got = pq.read_table(target, columns=cols, ignore_prefixes=[".", "_SUCCESS"]).to_pylist()
        got_set = {tuple(r[c] for c in cols) for r in got}
        want = {
            (f"{z}_{abbr}", z, state, abbr, county, city, *expected_enrichment(z))
            for _, state, abbr, z, county, city in rows
        }
        if len(got) != len(got_set) or got_set != want:
            self.problems.append(
                f"target differs from recompute: {len(got)} rows, "
                f"{len(got_set - want)} unexpected, {len(want - got_set)} missing"
            )


class EtlRefresh(EtlWorkload):
    """A 50k-key target built in setup through the engine's own upsert;
    each pass drops a new CSV version with 1% new keys and sends the real
    trigger plus a duplicate the checksum gate must reject."""

    name = "etl_refresh"
    n_keys = 50_000
    new_frac = 0.01

    def setup(self) -> None:
        w = self.work
        self.target, self.control = f"{w}/target", f"{w}/control"
        self.queue, self.ckpt = Queue(f"{w}/queue"), f"{w}/ckpt"
        self.universe = ZipUniverse(self.seed)
        self.universe.grow(self.n_keys)
        self._build_target()

    def _build_target(self) -> None:
        import pandas as pd

        from net7_etl_bus_spark.schemas import ZIP_DETAILS_SCHEMA

        now = datetime.now(timezone.utc).replace(tzinfo=None)
        recs = [
            (f"{z}_{abbr}", z, state, abbr, county, city, *expected_enrichment(z), now, now, 0)
            for _, state, abbr, z, county, city in self.universe.rows
        ]
        pdf = pd.DataFrame(recs, columns=ZIP_DETAILS_SCHEMA.fieldNames())
        sinks.upsert_parquet(
            self.spark, self.spark.createDataFrame(pdf, ZIP_DETAILS_SCHEMA), self.target
        )

    def one_pass(self, tracer=None) -> dict:
        self.universe.grow(max(1, int(self.n_keys * self.new_frac)))
        csv = self.universe.write_csv(f"{self.work}/drops/zips-{len(self.drops):04d}.csv")
        return self.drain(csv, self.target, self.control, self.queue, self.ckpt, 2)

    def check(self) -> list[str]:
        self.check_control(self.control, self.drops)
        self.check_target(self.target, self.universe.rows)
        return self.problems


class EtlColdLoad(EtlWorkload):
    """Each pass loads one seeded CSV of ~50k keys into a fresh target and
    control path, through a client that sleeps 1 ms per API call."""

    name = "etl_cold_load"
    n_keys = 50_000
    latency_s = 0.001
    min_passes = 2  # a pass is ~10 s on 4 cores

    def setup(self) -> None:
        self.universe = ZipUniverse(self.seed)
        self.universe.grow(self.n_keys)
        self.csv = self.universe.write_csv(f"{self.work}/drops/zips.csv")
        self.loads: list[str] = []

    def one_pass(self, tracer=None) -> dict:
        d = f"{self.work}/load-{len(self.loads):04d}"
        self.loads.append(d)
        return self.drain(self.csv, f"{d}/target", f"{d}/control", Queue(f"{d}/queue"),
                          f"{d}/ckpt", 1)

    def check(self) -> list[str]:
        for d in self.loads[-2:]:  # the last two loads, so the check stays short
            self.check_control(f"{d}/control", [self.csv])
            self.check_target(f"{d}/target", self.universe.rows)
        return self.problems


class QueryMix:
    """Registry queries on the read-only sf0.1 testdata, each forced with
    a ``noop`` write. The seed sets the query order within each pass."""

    kind = "query"
    min_passes = 4

    def __init__(self, spark, work: str, seed: int) -> None:
        from net7_etl_bus_spark.data import DEFAULT_SF_DIR
        from net7_etl_bus_spark.plans import registry

        self.spark = spark
        self.seed = seed
        self.rng = random.Random(seed)
        self.sf_dir = DEFAULT_SF_DIR  # $SPARK_GRAFT_SF_DIR, else the sf0.1 testdata
        self.queries = registry.queries()
        self.oracles = registry.oracles()
        self.rows: dict[str, int] = {}
        self.problems: list[str] = []

    def setup(self) -> None:
        if not os.path.isdir(self.sf_dir):
            raise FileNotFoundError(f"testdata directory {self.sf_dir} not found")

    def check(self) -> list[str]:
        return self.problems

    def warm(self) -> float:
        """Run every query once, collected, and compare it with its DuckDB
        oracle (the comparator of scripts/diffcheck.py). Returns the Spark
        time, without DuckDB's. The first timed ``noop`` pass is still
        slower than the later ones; each query's fastest time over the timed
        passes leaves it out."""
        import duckdb

        from net7_etl_bus_spark.schemas import TESTDATA_TABLES
        from scripts.diffcheck import compare

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            p = f"{self.sf_dir}/{t}.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        spark_s = 0.0
        for key in self.keys:
            t0 = time.perf_counter()
            got = self.queries[key](self.spark, self.sf_dir).toArrow().to_pandas()
            spark_s += time.perf_counter() - t0
            self.rows[key] = len(got)
            want = con.execute(self.oracles[key]).df()
            problems = compare(key, got, want)
            if problems:
                self.problems.append(f"{key}: " + "; ".join(problems))
        con.close()
        return spark_s

    def one_pass(self, tracer=None) -> dict:
        order = self.rng.sample(self.keys, len(self.keys))
        span = tracer.span if tracer else (lambda name, **kw: contextlib.nullcontext())
        per_key, t_pass = {}, time.time()
        for key in order:
            t0 = time.time()
            with span("build", key=key):
                df = self.queries[key](self.spark, self.sf_dir)
            with span("write", key=key):
                df.write.mode("overwrite").format("noop").save()
            per_key[key] = time.time() - t0
        return {"ok": True, "ops": len(order), "wall": time.time() - t_pass,
                "commits": list(per_key.values()), "per_key": per_key,
                "rows": sum(self.rows.get(k, 0) for k in order)}


class Analytics(QueryMix):
    """Sub-second queries: fixed construction and planning cost dominate.
    The last two reach the checkpoint layer: ``events_funnel`` fires a
    ``probes.materialized_nonempty`` checkpoint job at construction and
    releases it; ``text_ngram_lm_counts`` makes a lazy
    ``localCheckpoint`` whose blocks stay held until driver GC."""

    name = "analytics_sf01"
    keys = ["q1_pricing_summary", "q5_local_supplier_volume", "q6_forecast_revenue",
            "agg_cube", "events_funnel", "text_ngram_lm_counts"]


class Curation(QueryMix):
    """Eager localCheckpoint jobs at construction, shuffle and Python
    workers dominate."""

    name = "curation_sf01"
    min_passes = 2  # a pass is ~24 s on 4 cores
    keys = ["pipeline_curation", "dedup_cc_survivors", "dedup_minhash_verified",
            "graph_pagerank", "text_tfidf_topk", "join_fuzzy_levenshtein"]


WORKLOADS = {w.name: w for w in (EtlRefresh, EtlColdLoad, Analytics, Curation)}

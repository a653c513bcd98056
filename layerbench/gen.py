"""Seeded inputs for the ETL workloads.

Everything the program receives is made here from the seed: the zip
CSV drops, the trigger message files and the enrichment client
factory. The same seed gives byte-identical files. Message creation
times are stamped in memory (``Queue.created``), never in the file
bytes, so the files stay deterministic.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time

from pyspark.accumulators import AccumulatorParam

from net7_etl_bus_spark.operators.enrich import DeterministicMockClient

CSV_HEADER = "state_fips,state,state_abbr,zipcode,county,city\n"

STATES = (
    ("01", "Alabama", "AL"), ("02", "Alaska", "AK"), ("04", "Arizona", "AZ"),
    ("05", "Arkansas", "AR"), ("06", "California", "CA"), ("08", "Colorado", "CO"),
    ("09", "Connecticut", "CT"), ("10", "Delaware", "DE"), ("12", "Florida", "FL"),
    ("13", "Georgia", "GA"), ("15", "Hawaii", "HI"), ("16", "Idaho", "ID"),
    ("17", "Illinois", "IL"), ("18", "Indiana", "IN"), ("19", "Iowa", "IA"),
    ("20", "Kansas", "KS"), ("21", "Kentucky", "KY"), ("22", "Louisiana", "LA"),
    ("23", "Maine", "ME"), ("24", "Maryland", "MD"), ("25", "Massachusetts", "MA"),
    ("26", "Michigan", "MI"), ("27", "Minnesota", "MN"), ("28", "Mississippi", "MS"),
    ("29", "Missouri", "MO"), ("30", "Montana", "MT"), ("31", "Nebraska", "NE"),
    ("32", "Nevada", "NV"), ("33", "New Hampshire", "NH"), ("34", "New Jersey", "NJ"),
    ("35", "New Mexico", "NM"), ("36", "New York", "NY"), ("37", "North Carolina", "NC"),
    ("38", "North Dakota", "ND"), ("39", "Ohio", "OH"), ("40", "Oklahoma", "OK"),
    ("41", "Oregon", "OR"), ("42", "Pennsylvania", "PA"), ("44", "Rhode Island", "RI"),
    ("45", "South Carolina", "SC"), ("46", "South Dakota", "SD"), ("47", "Tennessee", "TN"),
    ("48", "Texas", "TX"), ("49", "Utah", "UT"), ("50", "Vermont", "VT"),
    ("51", "Virginia", "VA"), ("53", "Washington", "WA"), ("54", "West Virginia", "WV"),
    ("55", "Wisconsin", "WI"), ("56", "Wyoming", "WY"),
)
COUNTIES = ("Polk", "Washington", "Jefferson", "Franklin", "Lincoln", "Madison",
            "Clay", "Jackson", "Marion", "Monroe", "Greene", "Union", "Wayne")
CITIES = ("Easton", "Georgetown", "Springfield", "Riverside", "Fairview", "Salem",
          "Madison", "Clinton", "Arlington", "Ashland", "Dover", "Milton", "Oxford")


class ZipUniverse:
    """Distinct (zip, state) keys with their county and city, drawn from
    one seeded stream. ``grow(n)`` appends ``n`` keys not seen before."""

    def __init__(self, seed: int) -> None:
        self._rng = random.Random(seed)
        self.rows: list[tuple[str, str, str, str, str, str]] = []
        self._keys: set[tuple[str, str]] = set()

    def grow(self, n: int) -> None:
        rng = self._rng
        target = len(self.rows) + n
        while len(self.rows) < target:
            fips, state, abbr = STATES[rng.randrange(len(STATES))]
            zipcode = f"{rng.randrange(100000):05d}"
            if (zipcode, abbr) in self._keys:
                continue
            self._keys.add((zipcode, abbr))
            self.rows.append(
                (fips, state, abbr, zipcode, rng.choice(COUNTIES), rng.choice(CITIES))
            )

    def write_csv(self, path: str) -> str:
        """Write every key so far as one CSV drop; returns ``path``."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(CSV_HEADER)
            f.writelines(",".join(r) + "\n" for r in self.rows)
        return path


class Queue:
    """The trigger queue directory. Message bytes are deterministic; the
    creation instant of each message is kept in ``created``."""

    def __init__(self, queue_dir: str) -> None:
        self.dir = queue_dir
        self.created: dict[str, float] = {}
        self._n = 0
        os.makedirs(queue_dir, exist_ok=True)

    def send(self, force_run: bool = False) -> str:
        name = f"trigger-{self._n:06d}.json"
        self._n += 1
        path = os.path.join(self.dir, name)
        with open(path + ".tmp", "w", encoding="utf-8", newline="\n") as f:
            f.write(json.dumps({"ForceRun": force_run}) + "\n")
        self.created[name] = time.time()
        os.rename(path + ".tmp", path)  # the stream never sees a partial file
        return name


# --- the injected enrichment client ---------------------------------------

EMPTY_STATS = (0, 0, 0.0, float("inf"), float("-inf"))


class CallStatsParam(AccumulatorParam):
    """(clients, calls, summed call seconds, first call start, last call
    end), summed across tasks; start and end are wall-clock seconds."""

    def zero(self, value):
        return EMPTY_STATS

    def addInPlace(self, a, b):
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2], min(a[3], b[3]), max(a[4], b[4]))


class CountingClient:
    """``DeterministicMockClient`` with a fixed sleep per call, standing
    in for the reference's HTTP latency. Each call adds one record to
    the accumulator, which Spark folds back into the driver."""

    def __init__(self, stats, latency_s: float) -> None:
        self._inner = DeterministicMockClient()
        self._stats = stats
        self._latency_s = latency_s
        self._lock = threading.Lock()  # Accumulator.add is not thread-safe
        stats.add((1, 0, 0.0, float("inf"), float("-inf")))

    def _call(self, fn, *args):
        t0 = time.time()
        if self._latency_s:
            time.sleep(self._latency_s)
        out = fn(*args)
        t1 = time.time()
        with self._lock:
            self._stats.add((0, 1, t1 - t0, t0, t1))
        return out

    def geocode(self, zipcode):
        return self._call(self._inner.geocode, zipcode)

    def elevation(self, zipcode, lat, lng):
        return self._call(self._inner.elevation, zipcode, lat, lng)

    def timezone(self, zipcode, lat, lng):
        return self._call(self._inner.timezone, zipcode, lat, lng)


class ClientFactory:
    """Picklable zero-arg factory handed to ``run_etl``; one client per
    enrichment task. ``stats.value`` reads the totals on the driver."""

    def __init__(self, spark_context, latency_s: float = 0.0) -> None:
        self.stats = spark_context.accumulator(EMPTY_STATS, CallStatsParam())
        self.latency_s = latency_s

    def __call__(self) -> CountingClient:
        return CountingClient(self.stats, self.latency_s)


def expected_enrichment(zipcode: str) -> tuple:
    """The mock's f(zip), computed on the driver without Spark."""
    m = DeterministicMockClient()
    lat, lng = m.geocode(zipcode)
    return lat, lng, m.elevation(zipcode, lat, lng), m.timezone(zipcode, lat, lng)

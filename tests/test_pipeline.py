"""Golden ETL pipeline tests (SURVEY.md §5.2): the five-step run,
idempotent re-runs, the gate, duplicate policy, error channel, and
CreationDateUtc preservation — including the test the reference
commented out (exclusion on re-run, DataflowProcessorTests.cs:225-239).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from net7_etl_bus_spark.data import FIXTURES_DIR, ZIP_CSV_PATH
from net7_etl_bus_spark.operators.enrich import DeterministicMockClient
from net7_etl_bus_spark.pipeline import DuplicateKeyError, run_etl
from net7_etl_bus_spark.sources.batch import file_checksum

NOW = datetime(2024, 2, 1, 0, 0, 0)


@pytest.fixture()
def paths(tmp_path):
    return {
        "target": str(tmp_path / "zip_code_details.parquet"),
        "control": str(tmp_path / "etl_bus_imports.parquet"),
    }


def test_full_run_golden_values(spark, paths):
    res = run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    assert res.should_run and res.reason == "complete"
    assert res.rows_incoming == 254
    assert res.rows_to_process == 254  # empty target: everything processes

    target = spark.read.parquet(paths["target"])
    assert target.count() == 254
    # Golden enrichment row — the reference's own mock constants
    # (DataflowProcessorTests.cs:57-95).
    golden = target.filter(F.col("CompositeKey") == "35004_AL").collect()[0]
    assert golden["Latitude"] == 31.2562
    assert golden["Longitude"] == -85.6229
    assert golden["Elevation"] == 101.1
    assert golden["Timezone"] == "Central Daylight Time"
    assert golden["State"] == "Alabama"
    # Leading-zero zip survived the string schema.
    assert target.filter(F.col("ZipCode") == "00501").count() == 1

    control = spark.read.parquet(paths["control"])
    row = control.collect()[0]
    assert row["Status"] == "Complete"
    assert not row["IsActive"]
    assert row["EndDateTimeUtc"] is not None
    assert row["FileChecksum"] == file_checksum(ZIP_CSV_PATH)


def test_rerun_same_file_gated(spark, paths):
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    res2 = run_etl(
        spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW + timedelta(hours=1)
    )
    assert not res2.should_run  # same checksum, completed within TTL


def test_force_run_bypasses_gate_and_antijoin_skips_rows(spark, paths):
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    res2 = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        force_run=True,
        now=NOW + timedelta(hours=1),
    )
    # The reference's commented-out exclusion test, made to pass: all
    # rows are fresh+complete, so the anti-join excludes everything.
    assert res2.should_run
    assert res2.rows_incoming == 254
    assert res2.rows_to_process == 0


def test_stale_rows_reprocessed_and_creation_preserved(spark, paths):
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    later = NOW + timedelta(days=40)  # beyond the 30-day TTL
    res2 = run_etl(
        spark, ZIP_CSV_PATH, paths["target"], paths["control"], force_run=True, now=later
    )
    assert res2.rows_to_process == 254  # everything stale -> reprocess
    target = spark.read.parquet(paths["target"])
    row = target.filter(F.col("CompositeKey") == "35004_AL").collect()[0]
    # LastModified advanced; CreationDateUtc preserved from the first
    # run (the reference's stated-intent TODO, SURVEY.md §7.4.3).
    assert row["LastModifiedDateUtc"] == later
    assert row["CreationDateUtc"] == NOW
    assert row["ImportId"] == 2


def test_partial_enrichment_failures_rerun_until_complete(spark, paths):
    # Elevation fails for one zip -> row lands incomplete (null
    # elevation), others complete. The next run re-processes ONLY the
    # incomplete row (completeness filter), and a healthy client heals it.
    failing = lambda: DeterministicMockClient(fail_elevation={"35004"})  # noqa: E731
    run_etl(
        spark, ZIP_CSV_PATH, paths["target"], paths["control"], client_factory=failing, now=NOW
    )
    target = spark.read.parquet(paths["target"])
    bad = target.filter(F.col("CompositeKey") == "35004_AL").collect()[0]
    assert bad["Elevation"] is None
    assert bad["Latitude"] == 31.2562  # independence: geocode still set
    assert bad["Timezone"] == "Central Daylight Time"

    res2 = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        force_run=True,
        now=NOW + timedelta(hours=2),
    )
    assert res2.rows_to_process == 1  # only the incomplete row
    healed = (
        spark.read.parquet(paths["target"])
        .filter(F.col("CompositeKey") == "35004_AL")
        .collect()[0]
    )
    assert healed["Elevation"] == 101.1


def test_geocode_failure_nulls_all_enrichment(spark, paths):
    failing = lambda: DeterministicMockClient(fail_geocode={"35004"})  # noqa: E731
    run_etl(
        spark, ZIP_CSV_PATH, paths["target"], paths["control"], client_factory=failing, now=NOW
    )
    row = (
        spark.read.parquet(paths["target"])
        .filter(F.col("CompositeKey") == "35004_AL")
        .collect()[0]
    )
    assert row["Latitude"] is None and row["Longitude"] is None
    assert row["Elevation"] is None and row["Timezone"] is None


# The (zipcode, state_abbr) pairs that occur twice in zip_codes_with_dups.csv.
FIXTURE_DUP_KEYS = (
    "36838_AL", "75503_AZ", "94217_AZ", "10740_GA",
    "73207_CA", "29221_CO", "53160_TX", "49099_AL",
)


def test_duplicate_key_error_mode(spark, paths):
    dup_csv = f"{FIXTURES_DIR}/zip_codes_with_dups.csv"
    with pytest.raises(DuplicateKeyError) as err:
        run_etl(spark, dup_csv, paths["target"], paths["control"], now=NOW)
    # The message names a real duplicate, read from the aggregate row.
    assert any(k in str(err.value) for k in FIXTURE_DUP_KEYS), str(err.value)
    # C2: the run was marked Error in the control table.
    control = spark.read.parquet(paths["control"])
    assert control.filter(F.col("Status") == "Error").count() == 1


def test_duplicate_key_first_mode(spark, paths):
    dup_csv = f"{FIXTURES_DIR}/zip_codes_with_dups.csv"
    res = run_etl(
        spark, dup_csv, paths["target"], paths["control"], on_duplicate="first", now=NOW
    )
    assert res.should_run
    target = spark.read.parquet(paths["target"])
    assert target.count() == 254  # dups collapsed to one row per key
    assert target.groupBy("CompositeKey").count().filter("count > 1").count() == 0


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """64 tiny files -> 1 file at a 128 MB target; data identical."""
    from net7_etl_bus_spark.data import load_table
    from net7_etl_bus_spark.sources.sinks import compact_parquet

    from .conftest import SF_SMALL

    path = str(tmp_path / "shattered")
    orders = load_table(spark, SF_SMALL, "orders")
    orders.repartition(64).write.parquet(path)
    import glob
    assert len(glob.glob(f"{path}/*.parquet")) >= 32
    before = orders.count()
    n = compact_parquet(spark, path)
    assert n == 1
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    after = spark.read.parquet(path)
    assert after.count() == before
    assert after.exceptAll(orders).count() == 0


def test_gate_reruns_stale_completed_run_after_ttl(spark, paths):
    """Deliberate deviation from the reference pinned down: the
    reference's SetImportRecordCompleteAsync leaves IsActive true, so a
    completed run's checksum would block the gate forever. This engine
    clears IsActive on finalize, so once the TTL window lapses the same
    file re-runs (and its now-stale rows reprocess)."""
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    res = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        now=NOW + timedelta(days=31),  # past DEFAULT_TTL_DAYS=30
    )
    assert res.should_run and res.reason == "complete"
    assert res.rows_to_process == 254  # all rows stale -> all reprocess


def _bucket_file_digests(path):
    import glob
    import hashlib
    import os

    out = {}
    for sub in glob.glob(f"{path}/__bucket=*"):
        files = {}
        for f in sorted(glob.glob(f"{sub}/*.parquet")):
            with open(f, "rb") as fh:
                files[os.path.basename(f)] = hashlib.sha256(fh.read()).hexdigest()
        out[os.path.basename(sub)] = files
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The MERGE emulation is partition-pruned: an upsert batch must
    leave every bucket its keys don't hash into byte-identical on disk
    (same files, same bytes) — the parquet-dir analogue of a lakehouse
    MERGE rewriting only matching files."""
    from net7_etl_bus_spark.sources import sinks

    path = str(tmp_path / "target.parquet")
    base = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id")).alias("CompositeKey"),
        F.col("id").alias("v"),
        F.lit(NOW).alias("CreationDateUtc"),
    )
    sinks.upsert_parquet(spark, base, path)
    before = _bucket_file_digests(path)
    assert len(before) > 1  # bucketed layout materialized

    one = base.filter(F.col("CompositeKey") == "k7").withColumn(
        "v", F.lit(10_000).cast("long")
    )
    sinks.upsert_parquet(spark, one, path)
    after = _bucket_file_digests(path)

    [touched] = [
        r[0]
        for r in spark.createDataFrame([("k7",)], "CompositeKey string")
        .select(F.pmod(F.xxhash64("CompositeKey"), F.lit(sinks.N_UPSERT_BUCKETS)))
        .collect()
    ]
    touched_dir = f"__bucket={touched}"
    assert before[touched_dir] != after[touched_dir]
    for sub, files in before.items():
        if sub != touched_dir:
            assert after[sub] == files  # untouched: byte-identical

    got = sinks.read_merge_target(spark, path)
    assert got.filter("CompositeKey = 'k7'").collect()[0]["v"] == 10_000
    assert got.count() == 200
    assert "__bucket" not in got.columns


def _keyed(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("k"), F.col("id")).alias("CompositeKey"),
        F.col("id").alias("v"),
        F.lit(NOW).alias("CreationDateUtc"),
    )


def test_upsert_insert_only_batch_appends(spark, tmp_path):
    """A batch whose keys are all new is appended: every file already in
    the target stays byte-identical, and only new files appear."""
    from net7_etl_bus_spark.sources import sinks

    path = str(tmp_path / "target.parquet")
    assert sinks.upsert_parquet(spark, _keyed(spark, 0, 200), path) == 200
    before = _bucket_file_digests(path)

    assert sinks.upsert_parquet(spark, _keyed(spark, 200, 240), path) == 40
    after = _bucket_file_digests(path)
    for sub, files in before.items():
        for name, digest in files.items():
            assert after[sub][name] == digest  # old files untouched
    assert sum(map(len, after.values())) > sum(map(len, before.values()))

    got = sinks.read_merge_target(spark, path)
    assert got.count() == 240
    assert got.filter("CompositeKey = 'k230'").collect()[0]["v"] == 230
    assert sorted(os.listdir(tmp_path)) == ["target.parquet"]  # staging removed


def test_upsert_zero_row_batch_writes_nothing(spark, tmp_path):
    from net7_etl_bus_spark.sources import sinks

    path = str(tmp_path / "target.parquet")
    sinks.upsert_parquet(spark, _keyed(spark, 0, 200), path)
    before = _bucket_file_digests(path)
    assert sinks.upsert_parquet(spark, _keyed(spark, 0, 200).limit(0), path) == 0
    assert _bucket_file_digests(path) == before
    assert sorted(os.listdir(tmp_path)) == ["target.parquet"]


def test_upsert_rejects_batch_with_other_columns(spark, tmp_path):
    """A bucketed target is read with the batch's schema, so a batch
    whose columns differ must fail before anything is written."""
    from net7_etl_bus_spark.sources import sinks

    path = str(tmp_path / "target.parquet")
    sinks.upsert_parquet(spark, _keyed(spark, 0, 200), path)
    before = _bucket_file_digests(path)
    with pytest.raises(ValueError, match="columns"):
        sinks.upsert_parquet(spark, _keyed(spark, 0, 10).drop("v"), path)
    assert _bucket_file_digests(path) == before


def test_upsert_bucket_at_file_bound_is_rewritten(spark, tmp_path, monkeypatch):
    """Appends stop at MAX_BUCKET_FILES: the next batch touching a full
    bucket rewrites it back to one write's files (its old rows in one,
    the batch's in the other), keeping every row; no bucket ever holds
    more than the bound."""
    from net7_etl_bus_spark.sources import sinks

    monkeypatch.setattr(sinks, "MAX_BUCKET_FILES", 3)
    path = str(tmp_path / "target.parquet")
    rewritten = 0
    for lo in range(0, 500, 100):  # a create, then insert-only batches
        before = _bucket_file_digests(path)
        sinks.upsert_parquet(spark, _keyed(spark, lo, lo + 100), path)
        after = _bucket_file_digests(path)
        for sub, files in after.items():
            assert len(files) <= 3
            if len(before.get(sub, {})) == 3 and files != before[sub]:
                assert len(files) == 2  # rewritten, not appended to
                assert not set(files) & set(before[sub])
                rewritten += 1
    assert rewritten > 0  # the bound was reached
    got = sinks.read_merge_target(spark, path)
    assert got.count() == 500
    assert got.filter(F.col("CompositeKey") == F.concat(F.lit("k"), F.col("v"))).count() == 500


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it fired."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_job_budget(spark, paths, tmp_path):
    """Each decision in a run costs one Spark job: the gate, the next
    control Id, the duplicate check with the incoming count, the staged
    MERGE write with its row count, the control writes; no parquet
    read infers its schema. An insert-only refresh on a bucketed target
    stays within 11 jobs, and a gated duplicate within one (the gate's
    lookup)."""
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    drop = tmp_path / "drop.csv"
    new_rows = "02,Alaska,AK,99990,Polk,Easton\n02,Alaska,AK,99991,Clay,Salem\n"
    drop.write_text(open(ZIP_CSV_PATH).read() + new_rows)
    later = NOW + timedelta(hours=1)

    def run():
        return run_etl(spark, str(drop), paths["target"], paths["control"], now=later)

    res, jobs = _jobs_in(spark, run)
    assert res.reason == "complete" and res.rows_to_process == 2
    assert jobs <= 11, jobs
    res, jobs = _jobs_in(spark, run)
    assert not res.should_run
    assert jobs <= 1, jobs


def test_quarantine_path_routes_failed_rows(spark, paths, tmp_path):
    """Opt-in quarantine sink: enrichment-failed rows go to the
    quarantine table (with error reason + run id) and are NOT merged
    into the target; clean rows merge normally. Default (no
    quarantine_path) keeps reference behavior — covered by
    test_geocode_failure_nulls_all_enrichment."""
    quarantine = str(tmp_path / "quarantine.parquet")
    failing = lambda: DeterministicMockClient(fail_geocode={"35004"})  # noqa: E731
    res = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        client_factory=failing,
        now=NOW,
        quarantine_path=quarantine,
    )
    assert res.should_run
    assert res.rows_to_process == 253  # clean rows only

    target = spark.read.parquet(paths["target"])
    assert target.count() == 253
    assert target.filter(F.col("CompositeKey") == "35004_AL").count() == 0

    q = spark.read.parquet(quarantine)
    qrow = q.collect()
    assert len(qrow) == 1
    assert qrow[0]["CompositeKey"] == "35004_AL"
    assert "geocode" in qrow[0]["EnrichmentError"]
    assert qrow[0]["ImportId"] == res.run_id

    # The quarantined row was never MERGEd, so a later healthy run
    # still sees it as unprocessed and heals it into the target.
    res2 = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        force_run=True,
        now=NOW + timedelta(hours=2),
        quarantine_path=quarantine,
    )
    assert res2.rows_to_process == 1
    assert spark.read.parquet(paths["target"]).count() == 254
    assert spark.read.parquet(quarantine).count() == 1  # nothing new


def test_config_driven_run_matches_direct_call(spark, paths, tmp_path):
    """run_etl_from_config (the appsettings-style entry, reference
    Program.cs:26-33) must produce the same target table as the direct
    API call, reject unknown keys loudly, and fail fast on a missing
    Paths section — a config typo must never silently change a run."""
    import json

    import pytest as _pytest

    from net7_etl_bus_spark.pipeline import load_config, run_etl, run_etl_from_config

    cfg = {
        "Paths": {
            "InputCsv": ZIP_CSV_PATH,
            "Target": paths["target"],
            "Control": paths["control"],
        },
        "ValidRecordDaysTtl": 30,
        "ActionMaxDegreesOfParallelism": 5,
    }
    cfg_path = tmp_path / "run.json"
    cfg_path.write_text(json.dumps(cfg))
    res = run_etl_from_config(spark, load_config(str(cfg_path)), now=NOW)
    assert res.should_run and res.rows_upserted > 0

    direct_target = str(tmp_path / "direct_target")
    direct_control = str(tmp_path / "direct_control")
    res2 = run_etl(spark, ZIP_CSV_PATH, direct_target, direct_control, now=NOW)
    a = spark.read.parquet(paths["target"]).drop("ImportId").sort("CompositeKey").collect()
    b = spark.read.parquet(direct_target).drop("ImportId").sort("CompositeKey").collect()
    assert a == b and res.rows_upserted == res2.rows_upserted

    with _pytest.raises(ValueError, match="unknown config keys"):
        run_etl_from_config(spark, {**cfg, "BatchRecordSaveCount": 50}, now=NOW)
    with _pytest.raises(ValueError, match="Paths"):
        run_etl_from_config(spark, {"ValidRecordDaysTtl": 30}, now=NOW)


def test_errored_run_does_not_block_retry(spark, paths, monkeypatch):
    """Deliberate deviation from the reference, pinned: a crashed run
    leaves a control row with Status='Error' AND EndDateTimeUtc stamped
    (exactly like the reference, DataflowProcessor.cs:292-301), but our
    gate's finished-arm counts only Status='Complete' — so the SAME
    file retries WITHOUT force within TTL and converges. Under the
    reference's predicate (DataflowProcessor.cs:88) the failed file
    would be stranded behind its own Error row for TTL days."""
    from net7_etl_bus_spark.sources import sinks

    def boom(*a, **k):
        raise RuntimeError("injected crash before MERGE")

    real = sinks.upsert_parquet
    monkeypatch.setattr(sinks, "upsert_parquet", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    monkeypatch.setattr(sinks, "upsert_parquet", real)

    row = spark.read.parquet(paths["control"]).collect()[0]
    assert row["Status"] == "Error"
    assert row["EndDateTimeUtc"] is not None  # the arm that used to block
    assert not row["IsActive"]

    res = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        now=NOW + timedelta(hours=1),  # well within TTL, no force
    )
    assert res.should_run and res.reason == "complete"
    assert spark.read.parquet(paths["target"]).count() == 254
    statuses = {
        r["Id"]: r["Status"] for r in spark.read.parquet(paths["control"]).collect()
    }
    assert statuses == {1: "Error", 2: "Complete"}

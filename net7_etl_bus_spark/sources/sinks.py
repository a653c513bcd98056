"""Keyed upsert sink and control-table lifecycle (reference S4, S5, C1).

The reference bulk-upserts batches into Postgres by primary key
(DataflowProcessor.cs:172-181, BulkInsertOrUpdateAsync on CompositeKey)
and brackets each run with control-table rows (insert Running at
start DataflowProcessor.cs:76-83; finalize Complete/Error + end
timestamp DataflowProcessor.cs:292-308).

Spark-first redesign: the sink is a keyed MERGE. On a lakehouse
deployment this is exactly ``MERGE INTO target USING updates ON
target.key = updates.key WHEN MATCHED UPDATE ... WHEN NOT MATCHED
INSERT ...`` (Delta/Iceberg — transactional, partition-pruned, scales
to 100 TB because only touched files rewrite). This container has no
lakehouse format, so ``upsert_parquet`` implements the identical MERGE
semantics on a hash-bucketed parquet dir: buckets that only gain new
keys get the batch's files appended, buckets with matched keys are
rewritten (read -> anti-join -> union -> atomic directory swap); the
semantics (including CreationDateUtc preservation, SURVEY.md §7.4.3)
are what the golden tests pin down, and the Delta MERGE text is
recorded here for the production path.

Keyed MERGE is naturally idempotent: replaying the same batch
(same keys, same values) converges to the same table state — that is
the engine's exactly-once story per SURVEY.md §7.4.1 (the reference
is at-most-once: it completes the queue message even on failure).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import ETL_IMPORT_SCHEMA, STATUS_COMPLETE, STATUS_ERROR, STATUS_RUNNING

# The production MERGE this sink emulates (Delta/Iceberg deployment):
DELTA_MERGE_SQL = """
MERGE INTO zip_code_details t
USING updates u
  ON t.CompositeKey = u.CompositeKey
WHEN MATCHED THEN UPDATE SET
  t.ZipCode = u.ZipCode, t.State = u.State, t.StateCode = u.StateCode,
  t.County = u.County, t.City = u.City,
  t.Latitude = u.Latitude, t.Longitude = u.Longitude,
  t.Elevation = u.Elevation, t.Timezone = u.Timezone,
  t.LastModifiedDateUtc = u.LastModifiedDateUtc,
  t.ImportId = u.ImportId
  -- CreationDateUtc intentionally NOT updated (set on insert only)
WHEN NOT MATCHED THEN INSERT *
"""


def _atomic_overwrite(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write df to a temp dir SIBLING of the target, then swap into
    place with same-filesystem os.rename only (a cross-filesystem
    shutil.move degrades to copy+delete and is not atomic). The old
    target is kept until the new rename has succeeded, so a crash in
    the swap window leaves either the old or the new table, never
    neither. Parquet-dir emulation of a transactional commit (a
    lakehouse table gets this from its log; see DELTA_MERGE_SQL)."""
    token = uuid.uuid4().hex
    tmp = f"{path}.tmp-{token}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    old = f"{path}.old-{token}"
    had_old = os.path.exists(path)
    if had_old:
        os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        if had_old:
            os.rename(old, path)  # restore; target never absent
        raise
    if os.path.isdir(old):
        shutil.rmtree(old)
    elif os.path.exists(old):
        os.remove(old)  # target may be a single parquet file (fixture copy)


N_UPSERT_BUCKETS = 16
# Files one bucket dir may hold before an upsert that touches it
# rewrites it (back to at most two files) instead of appending. Each
# insert-only upsert adds one file per touched bucket, and every file
# costs each later scan of the target a fixed open: a 53k-row,
# 16-bucket target scanned in 0.17 s at 1 file per bucket, 0.40 s at
# 16, 0.54 s at 32 and 1.0 s at 64 (local[2], 4-core host; ~0.75 ms a
# file). A daily-drop refresh rewrites its buckets anyway once their
# rows pass the 30-day TTL (re-enriched keys match), so a bound just
# above 30 daily runs rarely fires on its own: it caps the scan cost of
# a target that only ever gains keys.
MAX_BUCKET_FILES = 32
_BUCKET = "__bucket"


def _bucket_of(key: str, n_buckets: int) -> F.Column:
    # Partition-discovery reads the dir value back as int, so the
    # computed column is cast to int to keep unionByName type-stable.
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def _is_bucketed(path: str) -> bool:
    return os.path.isdir(path) and any(
        e.startswith(f"{_BUCKET}=") for e in os.listdir(path)
    )


def _n_files(bucket_dir: str) -> int:
    if not os.path.isdir(bucket_dir):
        return 0
    return sum(f.endswith(".parquet") for f in os.listdir(bucket_dir))


def read_merge_target(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read an upsert target regardless of layout, without the
    internal bucket partition column. A known ``schema`` skips the
    footer-inference job."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(path)
    return df.drop(_BUCKET) if _BUCKET in df.columns else df


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str = "CompositeKey",
    preserve_on_update: tuple[str, ...] = ("CreationDateUtc",),
    n_buckets: int = N_UPSERT_BUCKETS,
    observation: Observation | None = None,
) -> int:
    """MERGE semantics onto a parquet target; returns the number of
    rows upserted (one per distinct key of the batch). That count is
    also the metric ``rows`` of ``observation``, when given: the
    Observation is attached to the batch's one write, above its
    shuffle, where Spark keeps it even when the batch is empty (on an
    empty stage below a shuffle, adaptive execution drops observed
    metrics), so a caller that cannot use the return value reads the
    count there without a job.

    The target is laid out hash-bucketed on the merge key
    (``__bucket=k/`` hive dirs). An upsert into an existing target
    first stages the batch's final rows, one file per bucket, in a
    sibling dir. That one write left-joins the batch to the target's
    key (and ``preserve_on_update``) columns and observes the row
    count, the touched buckets and the buckets where a batch key
    already exists. Then, per touched bucket:

    * no matched key, fewer than ``MAX_BUCKET_FILES`` (32) files:
      APPEND — the staged file is renamed into the bucket dir; the
      bucket's old files stay byte-identical. The bound caps the
      per-file open cost every later scan pays (sized beside the
      constant: ~0.75 ms a file; a daily refresh's 30-day TTL rewrites
      each bucket about monthly anyway);
    * a matched key, or the bucket is at the file bound: REWRITE — the
      bucket's surviving old rows (keys the batch lacks) are written to
      a temp bucket dir as one file, the staged file is renamed next to
      it, and the dir is swapped in by directory rename. A rewritten
      bucket so holds at most two files, and the batch's rows are
      written once on either path.

    Untouched buckets are never written, and of the target only the
    key and preserved columns are read outside the rewritten buckets
    (the parquet-dir analogue of Delta/Iceberg MERGE touching only
    matching files). A zero-row batch writes nothing. The first write
    to a missing target is a plain partitioned write. A legacy flat
    target (or single-file fixture copy) is migrated to the bucketed
    layout on its first upsert (one full rewrite, after which every
    batch is pruned).

    Jobs: an insert-only batch into a bucketed target costs one write
    action — three jobs (the broadcast of the target's key columns, the
    shuffle by bucket, the write) plus whatever the batch's own plan
    needs; rewritten buckets add the survivors' write. The batch itself
    is computed once; the rewrite reads only the staged keys. Reads of a
    bucketed target pass the batch's schema, so no footer-inference
    job runs; the batch must carry the target's columns (checked
    against one file footer) and types.

    Crash behaviour: a rewrite swaps whole bucket dirs; an append lands
    file by file. A crash mid-append leaves some buckets with their new
    files and others without, and every file landed holds only final
    rows for keys the target did not have, so replaying the batch
    converges: the pipeline's anti-join skips the keys that landed and
    the rest are upserted again. An atomic commit across buckets would
    need a manifest (a table log), which this layout does not have.

    ``preserve_on_update`` columns keep the *existing* row's value for
    matched keys (the reference overwrites CreationDateUtc on every
    update and flags it TODO, DataflowProcessor.cs:221; we implement
    the stated intent — set on insert only).
    """
    if _BUCKET in updates.columns:  # e.g. replaying rows read back from a target
        updates = updates.drop(_BUCKET)
    # One row per key per batch, one file per bucket per write: the
    # bucket is a function of the key, so the shuffle by bucket also
    # serves the dedup and no second exchange is planned.
    updates = (
        updates.withColumn(_BUCKET, _bucket_of(key, n_buckets))
        .repartition(_BUCKET)
        .dropDuplicates([key, _BUCKET])
    )
    columns = updates.columns
    obs = observation if observation is not None else Observation()
    if not os.path.exists(path):
        counted = updates.observe(obs, F.count(F.lit(1)).alias("rows"))
        _atomic_overwrite(spark, counted, path, partition_by=(_BUCKET,))
        return obs.get["rows"]

    bucketed = _is_bucketed(path)
    if bucketed:
        _check_columns(path, columns)
        target = spark.read.schema(updates.schema).parquet(path)
    else:
        # One-time migration of a flat/file target to the bucketed layout.
        target = spark.read.parquet(path)
        if _BUCKET in target.columns:  # compacted-flat remnant; recomputed below
            target = target.drop(_BUCKET)
        target = target.withColumn(_BUCKET, _bucket_of(key, n_buckets))
    staged = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        rows, touched, matched = _stage(updates, target, key, preserve_on_update, staged, obs)
        if rows == 0:
            return 0
        batch = spark.read.schema(updates.schema).parquet(staged)
        if not bucketed:
            survivors = target.join(batch.select(key), on=key, how="left_anti")
            # Canonical column order: the USING-style anti-join moves the
            # key column first.
            merged = survivors.unionByName(batch).select(*columns)
            _atomic_overwrite(
                spark, merged.repartition(_BUCKET), path, partition_by=(_BUCKET,)
            )
            return rows
        full = {
            k for k in touched
            if _n_files(os.path.join(path, f"{_BUCKET}={k}")) >= MAX_BUCKET_FILES
        }
        rewrite = sorted(matched | full)
        if rewrite:
            in_rewrite = F.col(_BUCKET).isin(rewrite)
            survivors = target.filter(in_rewrite).join(
                batch.filter(in_rewrite).select(key), on=key, how="left_anti"
            )
            # Canonical column order, as the staged files beside them.
            _swap_touched_buckets(
                spark, survivors.select(*columns).repartition(_BUCKET), path, rewrite, staged
            )
        _append_buckets(staged, path, sorted(touched - set(rewrite)))
        return rows
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def _check_columns(path: str, columns: list[str]) -> None:
    """A bucketed target is read with the batch's schema and gains the
    batch's files, so a batch with other columns would silently drop or
    null the target's; compare with one file footer (no Spark job)."""
    import pyarrow.parquet as pq

    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                have = set(pq.read_schema(os.path.join(dp, f)).names)
                want = set(columns) - {_BUCKET}
                if have != want:
                    raise ValueError(
                        f"upsert batch columns {sorted(want)} differ from the "
                        f"target's {sorted(have)}"
                    )
                return


def _stage(
    updates: DataFrame,
    target: DataFrame,
    key: str,
    preserve_on_update: tuple[str, ...],
    staged: str,
    obs: Observation,
) -> tuple[int, set[int], set[int]]:
    """Write the batch's final rows to ``staged``, one file per bucket,
    and return (row count, touched buckets, buckets where a batch key
    already exists). The batch is left-joined to the target's key and
    ``preserve_on_update`` columns, so a matched key keeps the old
    row's values there; the three results come from ``obs``, attached
    to the same write."""
    old = [F.col(c).alias(f"__old_{c}") for c in preserve_on_update]
    hits = target.select(F.col(key), *old, F.lit(True).alias("__hit"))
    batch = updates.join(hits, key, "left")
    for c in preserve_on_update:
        batch = batch.withColumn(c, F.coalesce(F.col(f"__old_{c}"), F.col(c)))
    batch = batch.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.collect_set(_BUCKET).alias("touched"),
        F.collect_set(F.when(F.col("__hit"), F.col(_BUCKET))).alias("matched"),
    ).select(*updates.columns)
    batch.write.partitionBy(_BUCKET).parquet(staged)
    m = obs.get
    return m["rows"], set(m["touched"]), set(m["matched"])


def _append_buckets(staged: str, path: str, buckets: list[int]) -> None:
    """Rename each bucket's staged files into the target's bucket dir
    (created if the target had no rows there). Same-filesystem renames;
    the bucket's existing files are not touched."""
    for k in buckets:
        sub = f"{_BUCKET}={k}"
        src, dst = os.path.join(staged, sub), os.path.join(path, sub)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):  # part files and their .crc companions
            os.rename(os.path.join(src, f), os.path.join(dst, f))


def _swap_touched_buckets(
    spark: SparkSession, survivors: DataFrame, path: str, touched: list[int], staged: str
) -> None:
    """Write the survivors (touched buckets only) partitioned by
    bucket, move each touched bucket's staged files in beside them,
    then swap each touched ``__bucket=k`` dir into the target with
    same-filesystem renames. Old dirs are parked OUTSIDE the target
    dir (a ``__bucket=3.old`` sibling inside it would corrupt partition
    discovery) and kept until every swap succeeded."""
    token = uuid.uuid4().hex
    tmp = f"{path}.tmp-{token}"
    survivors.write.mode("overwrite").partitionBy(_BUCKET).parquet(tmp)
    _append_buckets(staged, tmp, touched)
    park = f"{path}.old-{token}"
    os.makedirs(park, exist_ok=True)
    for k in touched:
        sub = f"{_BUCKET}={k}"
        src = os.path.join(tmp, sub)
        dst = os.path.join(path, sub)
        if os.path.isdir(dst):
            os.rename(dst, os.path.join(park, sub))
        os.rename(src, dst)  # present: the staged batch rows were moved in
    shutil.rmtree(park)
    shutil.rmtree(tmp)


# --- control table ------------------------------------------------------


def _utcnow_naive() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _literal_frame(spark: SparkSession, schema: StructType, row: tuple | None) -> DataFrame:
    """``row`` (or, for None, no row) as a DataFrame of ``schema``, built
    in the JVM: no Python RDD and no Python worker behind it."""
    values = row if row is not None else (None,) * len(schema.fields)
    return spark.range(0 if row is None else 1).select(
        *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(values, schema.fields)]
    )


def read_control(spark: SparkSession, path: str) -> DataFrame:
    if os.path.exists(path):
        return spark.read.schema(ETL_IMPORT_SCHEMA).parquet(path)
    return _literal_frame(spark, ETL_IMPORT_SCHEMA, None)


def control_insert_running(
    spark: SparkSession,
    path: str,
    file_name: str,
    checksum: str,
    now: datetime | None = None,
) -> int:
    """S4: append a Running control row; returns its Id (max+1 over a
    tiny driver-side table — the reference uses a DB identity). Two
    jobs: the top-1 Id and the rewrite. The table is kept as one file,
    so the gate's lookup reads one partition."""
    control = read_control(spark, path)
    last = control.select("Id").orderBy(F.desc("Id")).take(1)
    next_id = (last[0][0] if last else 0) + 1
    new = _literal_frame(
        spark,
        ETL_IMPORT_SCHEMA,
        (next_id, file_name, checksum, True, STATUS_RUNNING, now or _utcnow_naive(), None),
    )
    _atomic_overwrite(spark, control.unionByName(new).coalesce(1), path)
    return next_id


def control_finalize(
    spark: SparkSession,
    path: str,
    run_id: int,
    success: bool,
    now: datetime | None = None,
) -> None:
    """C1: set Status Complete/Error and stamp the end time (reference
    DataflowProcessor.cs:292-308, SetImportRecordCompleteAsync).

    DELIBERATE DEVIATION: the reference leaves IsActive true on
    completion, so a completed run's checksum blocks the gate forever
    (the IsActive arm of EtlRunConditions never expires). This engine
    clears IsActive, so a stale completed run only blocks within the
    TTL window and the same file can legitimately re-run after the TTL
    lapses — pinned by the gate tests (stale-completed-run re-run
    case in tests/test_pipeline.py)."""
    control = read_control(spark, path)
    status = STATUS_COMPLETE if success else STATUS_ERROR
    end = now or _utcnow_naive()
    updated = (
        control.withColumn(
            "Status",
            F.when(F.col("Id") == run_id, F.lit(status)).otherwise(F.col("Status")),
        )
        .withColumn(
            "IsActive",
            F.when(F.col("Id") == run_id, F.lit(False)).otherwise(F.col("IsActive")),
        )
        .withColumn(
            "EndDateTimeUtc",
            F.when(F.col("Id") == run_id, F.lit(end)).otherwise(F.col("EndDateTimeUtc")),
        )
    )
    _atomic_overwrite(spark, updated.coalesce(1), path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~target_file_bytes files and atomically swap it in. Returns the
    output file count.

    The small-files problem is the quiet killer of streaming sinks at
    scale — every micro-batch appends a few files, and a year later the
    scan spends longer listing/opening files than reading bytes. A
    lakehouse table runs OPTIMIZE/rewrite_data_files for this; on raw
    parquet this is the equivalent: size-based repartition + swap.
    Sizing uses the on-disk bytes (already encoded+compressed), so the
    output file sizes land near the target without sampling."""
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))  # ceil div
    df = spark.read.parquet(path)
    if _is_bucketed(path):
        # Keep the upsert sink's bucket layout (compaction must not
        # silently un-prune future MERGEs): ~n_files per bucket dir.
        per_bucket = df.repartition(max(1, n_files), F.col(_BUCKET))
        _atomic_overwrite(spark, per_bucket, path, partition_by=(_BUCKET,))
        return n_files
    _atomic_overwrite(spark, df.repartition(n_files), path)
    return n_files

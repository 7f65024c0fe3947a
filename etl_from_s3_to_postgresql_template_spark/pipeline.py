"""Day-level ingest pipeline: the reference's three entry points, Spark-first.

Maps SURVEY §3 onto lazy plans:

- :func:`process_day` = ``process_single_day`` (reference
  ``etl_pipeline.py:252-545``): LIST -> prune-by-filename-date -> per-group
  CSV scan -> clean names + provenance -> union-by-name -> epoch->ts ->
  metadata -> drop-empty-cols -> dedup -> sink + audit row.
- :func:`process_range` = the day loop (``:716-722``).
- :func:`analyze_dates` = ``--analyze-dates`` bucket profiling
  (``:599-657``).

Execution differences from the reference (the HOW we deliberately replace):
stages 5-8 are ONE lazy plan — no per-file materialization, no full-day RAM
spike; files read in parallel across executors; the only wide operations are
the dedup hash-aggregate and the final write fan-in. Failure unit stays the
day (exceptions propagate; per-file read errors surface instead of being
silently skipped — auditable beats lossy).

Schema drift: the reference reads each file with its own inferred schema and
lets ``pd.concat`` align names. Per-file reads don't scale to millions of
files, so files are grouped by their *header line* and each group is read as
one distributed scan; groups then ``unionByName`` with null-fill. One group
== one schema == exact reference semantics at any file count. Header probing
runs on EXECUTORS (sources/csv_ingest.probe_headers: concurrent limit-1 text
scans), so the driver does no per-file I/O anywhere in process_day.

Loaded-row count: with a sink, the audit row's ``total_row_count`` is
observed during the day write itself (an unnamed ``Observation`` on the
deduplicated frame), so the day plan runs once, not a second time for a
``count()``. The write runs under its own job group; a sink that returns
without running a Spark job raises :class:`SinkDidNotRunError` instead of
leaving ``Observation.get`` waiting forever.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import uuid
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_from_s3_to_postgresql_template_spark.functions.dates import PatternSpec
from etl_from_s3_to_postgresql_template_spark.operators.cleanse import (
    DEFAULT_EPOCH_COLUMNS,
    add_metadata_columns,
    clean_column_names,
    dedup_exact,
    drop_all_null_columns,
    epoch_to_timestamp,
    union_by_name,
)
from etl_from_s3_to_postgresql_template_spark.sinks.base import Sink
from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import (
    FileInfo,
    list_files,
    probe_headers,
    prune_paths_by_date,
)

# Serializes audit appends across concurrent process_day calls in this
# process. The per-day DATA writes are safe concurrently (each day's
# dynamic-partition overwrite stages under its own .spark-staging dir; JDBC
# appends are row inserts), but append-mode writes to ONE audit path share a
# single FileOutputCommitter `_temporary` dir, so a job commit can delete a
# concurrent job's staged files — intermittent lost audit rows. A lock is
# correct here because process_range's parallelism is thread-pool-in-one-
# process by construction; cross-process backfills must target different
# lake paths or sequence themselves.
_AUDIT_LOCK = threading.Lock()

# The local properties SparkContext.setJobGroup sets; saved and restored
# around the day write so the caller's own job group survives process_day.
_JOB_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class NoReadableFilesError(ValueError):
    """Every file matching a day was unreadable (probe_headers skipped all)."""

    def __init__(self, day: str, skipped: list[FileInfo]):
        self.day = day
        self.skipped = skipped
        super().__init__(f"no readable files for {day}")


class SinkDidNotRunError(RuntimeError):
    """``Sink.write_day`` returned without running a Spark job, so the
    frame it was given (and the row count observed on it) never ran."""

    def __init__(self, day: str, sink: Sink):
        self.day = day
        super().__init__(
            f"{type(sink).__name__}.write_day returned for {day} without running a "
            "Spark job; a sink must execute the frame it is given"
        )


@dataclass
class PipelineConfig:
    source_dir: str
    epoch_columns: tuple[str, ...] = DEFAULT_EPOCH_COLUMNS
    patterns: tuple[PatternSpec, ...] | None = None
    drop_duplicates: bool = True
    drop_empty_columns: bool = True
    table_name: str = "table_name"
    # "skip": unreadable files are dropped with a warning and counted out of
    # files_processed (reference behavior, etl_pipeline.py:404-406);
    # "fail": propagate — auditable pipelines usually want this.
    on_error: str = "fail"
    # Explicit schema (production mode): skips the inference pass — one
    # less full read of every file. None = per-header-group inference
    # (reference parity: pd.read_csv(low_memory=False)). SURVEY §1.2 asks
    # for both modes. Columns a group lacks are null-filled by
    # union-by-name as usual.
    schema: "T.StructType | None" = None


@dataclass
class DayResult:
    day: str
    files_found: int
    files_processed: int
    total_rows: int
    column_count: int
    columns: list[str] = field(default_factory=list)
    skipped_files: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.files_processed > 0


def ingest_day_plan(
    spark: SparkSession, config: PipelineConfig, files: list[FileInfo], day: str
) -> tuple[DataFrame, list[FileInfo]]:
    """Build the lazy merged-day plan (stages 5-8) for pruned ``files``.
    Returns (plan, skipped_files)."""
    import re as _re

    dfs = []
    groups, skipped = probe_headers(spark, files, config.on_error)
    if not groups:
        raise NoReadableFilesError(day, skipped)
    n_files_read = 0
    for header, group in groups:
        reader = spark.read.option("header", "true")
        if config.schema is not None:
            # Project the explicit schema onto this group's header,
            # POSITIONALLY: one output field per header column, always —
            # dropping a field would shift every later column's data into
            # the wrong name. Types come from the schema, matched on the
            # raw name or its cleaned form (brace-stripped, trimmed);
            # columns the schema doesn't know load as strings under their
            # raw name and flow through name-cleaning like inferred ones.
            by_name = {f.name: f for f in config.schema.fields}
            by_clean = {_re.sub(r"[{}]", "", f.name).strip(): f for f in config.schema.fields}
            fields = []
            for c in header.split(","):
                cleaned = _re.sub(r"[{}]", "", c).strip()
                src = by_name.get(c) or by_name.get(c.strip()) or by_clean.get(cleaned)
                fields.append(
                    T.StructField(c.strip(), src.dataType if src else T.StringType())
                )
            reader = reader.schema(T.StructType(fields))
        else:
            reader = reader.option("inferSchema", "true")
        df = reader.csv([fi.path for fi in group])
        n_files_read += len(group)
        df = clean_column_names(df)
        # P2 provenance: basename of the originating file, per row.
        df = df.withColumn(
            "source_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        dfs.append(df)
    merged = union_by_name(dfs)
    merged = epoch_to_timestamp(merged, config.epoch_columns)
    # files_merged counts FILES (reference: len(merged_dataframes), one df
    # per file), not header groups.
    merged = add_metadata_columns(merged, day, files_merged=n_files_read)
    return merged, skipped


def _jobs_ran(spark: SparkSession, group: str) -> bool:
    """Whether any Spark job ran under job group ``group``. The status
    store fills from the listener bus asynchronously, so an empty answer
    is only trusted once the bus has drained (the happy path never
    waits)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    if tracker.getJobIdsForGroup(group):
        return True
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JJavaError:
        pass  # other threads kept the bus busy past its timeout; recheck anyway
    return bool(tracker.getJobIdsForGroup(group))


def _write_day_counted(spark: SparkSession, sink: Sink, merged: DataFrame, day: str) -> int:
    """``sink.write_day`` the day and return the rows it loaded, counted
    by an Observation during the write. The observe sits on the final
    (deduplicated) frame, so it runs in the write's result stage, where
    Spark applies each task's metric update exactly once."""
    obs = Observation()
    observed = merged.observe(obs, F.count(F.lit(1)).alias("rows"))
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS}
    group = f"process_day-{day}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"process_day {day}: write_day")
    try:
        sink.write_day(observed, day)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    if not _jobs_ran(spark, group):
        raise SinkDidNotRunError(day, sink)
    return obs.get["rows"]


def process_day(
    spark: SparkSession, config: PipelineConfig, day: str, sink: Sink | None = None
) -> DayResult:
    """Run one day end-to-end. Returns the audit-shaped result; writes data
    + audit row to ``sink`` when given."""
    all_files = [
        f
        for f in list_files(config.source_dir, spark=spark)
        if f.path.endswith((".csv", ".csv.gz"))
    ]
    matching = prune_paths_by_date(spark, all_files, day)
    if not matching:
        return DayResult(day, 0, 0, 0, 0)

    try:
        merged, skipped = ingest_day_plan(spark, config, matching, day)
    except NoReadableFilesError as e:
        # on_error='skip' skip-and-counted every file: the day FAILS
        # (ok=False, reference returns False at etl_pipeline.py:411) but
        # the range keeps going — one rotten day must not kill a backfill.
        if config.on_error == "skip":
            return DayResult(
                day,
                len(matching),
                0,
                0,
                0,
                [],
                [os.path.basename(f.path) for f in e.skipped],
            )
        raise
    skipped_names = [os.path.basename(f.path) for f in skipped]
    processed = [f for f in matching if os.path.basename(f.path) not in set(skipped_names)]
    if config.drop_empty_columns:
        merged = drop_all_null_columns(merged)  # one aggregate pass
    if config.drop_duplicates:
        merged = dedup_exact(merged)

    if sink is not None:
        total_rows = _write_day_counted(spark, sink, merged, day)
        audit = spark.createDataFrame(
            [
                (
                    dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
                    dt.datetime.fromisoformat(day),
                    len(processed),
                    len(processed),
                    config.table_name,
                    total_rows,
                    len(merged.columns),
                    ", ".join(os.path.basename(f.path) for f in processed),
                )
            ],
            "date_processed timestamp, date_of_data timestamp, files_processed int, "
            "files_merged int, table_name string, total_row_count long, "
            "column_count int, source_files string",
        )
        with _AUDIT_LOCK:
            sink.write_audit(audit)
    else:
        total_rows = merged.count()

    return DayResult(
        day,
        len(matching),
        len(processed),
        total_rows,
        len(merged.columns),
        merged.columns,
        skipped_names,
    )


def process_range(
    spark: SparkSession,
    config: PipelineConfig,
    start_day: str,
    end_day: str,
    sink: Sink | None = None,
    max_parallel_days: int = 1,
) -> list[DayResult]:
    """The reference's day loop (etl_pipeline.py:716-722). Sequential by
    default for audit parity; ``max_parallel_days > 1`` submits days
    concurrently from a thread pool — days are independent (separate input
    file sets, separate `dt=` partitions, separate audit rows), and Spark's
    scheduler interleaves their jobs, so a backfill of months doesn't
    serialize on per-day fixed costs. Results return in day order either
    way. Keep ``max_parallel_days`` modest for JDBC sinks (each day holds
    ``num_partitions`` connections)."""
    start = dt.date.fromisoformat(start_day)
    end = dt.date.fromisoformat(end_day)
    if start > end:
        raise ValueError(f"start {start_day} after end {end_day}")
    days = []
    d = start
    while d <= end:
        days.append(d.isoformat())
        d += dt.timedelta(days=1)
    if max_parallel_days <= 1:
        return [process_day(spark, config, day, sink) for day in days]
    from concurrent.futures import ThreadPoolExecutor

    # First day runs alone: SaveMode.Append auto-creates the data and audit
    # tables on first touch, and two concurrent first-writers can race that
    # CREATE (JDBC has no create-if-absent handshake). Once the tables
    # exist, appends are safe to interleave (audit serialized by
    # _AUDIT_LOCK above).
    head = [process_day(spark, config, days[0], sink)]
    rest = days[1:]
    if not rest:
        return head
    with ThreadPoolExecutor(max_workers=max_parallel_days) as pool:
        return head + list(pool.map(lambda day: process_day(spark, config, day, sink), rest))


def recent_runs(spark: SparkSession, lake_path: str, n: int = 10) -> DataFrame:
    """README monitoring query parity (README.md:213-216): last n pipeline
    runs from the audit log, newest first."""
    log = spark.read.parquet(f"{lake_path}/data_processing_log")
    return log.orderBy(F.desc("date_processed")).limit(n)


def rows_per_source_date(spark: SparkSession, lake_path: str, table: str = "merged") -> DataFrame:
    """README monitoring query parity (README.md:218-222): loaded rows per
    source day, newest first — reads only partition metadata + counts."""
    df = spark.read.parquet(f"{lake_path}/{table}")
    return df.groupBy("dt").agg(F.count(F.lit(1)).alias("row_count")).orderBy(F.desc("dt"))


def analyze_dates(spark: SparkSession, config: PipelineConfig) -> DataFrame:
    """Bucket profiling (reference --analyze-dates, etl_pipeline.py:599-657):
    per-extracted-date file counts plus listing metadata, as one DataFrame —
    the A4/A5/A6 aggregations compose on top of it."""
    from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import file_listing_df

    files = list_files(config.source_dir, spark=spark)
    listing = file_listing_df(spark, files, list(config.patterns) if config.patterns else None)
    return (
        listing.groupBy("src_date")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.min("last_modified").alias("min_modified"),
            F.max("last_modified").alias("max_modified"),
        )
        .orderBy("src_date")
    )

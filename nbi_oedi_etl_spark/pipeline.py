"""The ETL pipeline — the engine's restatement of the reference's whole
dataflow (SURVEY.md §3.1): list → fetch → transform → upload becomes
read (partition-pruned) → resample → write (hive-partitioned), with
metadata bypass, timestamped output epochs, catalog registration, and a
reconciliation summary.

What took the reference ~1,100 LoC of asyncio + multiprocessing queue
machinery (etl_job.py, fetch.py, transform.py, upload.py, monitor.py) is
declarative Spark jobs here: Catalyst + the task scheduler replace the
hand-built pipeline, and every stage scales by partitioning instead of
local worker pools.

Cost of one JobSpec with metadata bypass and table registration (warm
schema memo), measured: 4 Spark jobs and one shuffle — the source's
schema inference, the write's shuffle-map and result stages, and the
metadata rewrite. Row counts are observed during the write and the tables
are declared from the written schema, so neither costs a job. The one
shuffle hash-partitions the RAW 15-min rows on the output partition
columns, so the resample aggregates inside the write's tasks and the
write's own repartition is elided. There is no map-side pre-aggregation:
a 3,840-row job shuffles 1,016 KB of raw rows where partial sums took
573 KB, and at scale the shuffle carries ~1.0× of the scanned bytes
instead of ~0.75×. Listing & pruning happen in the file index (never on
the driver's own thread like the reference's paced lister,
fetch.py:86-126).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from nbi_oedi_etl_spark.config import ETLConfig, JobSpec
from nbi_oedi_etl_spark.monitor import StageCounters
from nbi_oedi_etl_spark.operators.resample import (
    REFERENCE_MEASURE_COLUMNS,
    resample_hourly,
)
from nbi_oedi_etl_spark.sources.catalog import (
    data_table_name,
    metadata_table_name,
    register_parquet_table,
)
from nbi_oedi_etl_spark.sources.parquet import parquet_schema, read_partitioned
from nbi_oedi_etl_spark.sources.sinks import write_parquet

#: hive partition columns of the output, in directory order
#: (``upgrade=…/state=…``, upload.py:55)
PARTITION_COLS = ("upgrade", "state")


@dataclass
class JobResult:
    """Mirrors the reference monitor's summary JSON fields
    (monitor.py:108-136). ``schema`` is the written schema, partition
    columns included."""

    job: str
    rows_in: int = 0
    rows_out: int = 0
    wall_seconds: float = 0.0
    output_path: str = ""
    counters: dict[str, int] = field(default_factory=dict)
    schema: StructType | None = field(default=None, repr=False)


def run_etl_job(
    spark: SparkSession,
    config: ETLConfig,
    job: JobSpec,
    epoch: str,
    ts_col: str = "timestamp",
    entity_cols: tuple[str, ...] = ("bldg_id", "upgrade", "state"),
    min_cols: tuple[str, ...] = ("bldg_id", "timestamp"),
    mean_cols: tuple[str, ...] | None = None,
) -> JobResult:
    """One (release, state, upgrades) ETL job: partition-pruned read →
    hourly resample → hive-partitioned snappy write.

    The reference's equivalent is etl_process (etl_job.py:52-154). Grouping
    includes the entity/partition keys so the unioned-files run is exactly
    equivalent to the reference's per-file run (SURVEY.md §7.4.2).

    ``rows_listed`` and ``rows_out`` are observed during the write — the
    reference's listed and uploaded counters (SURVEY A4) at zero extra
    jobs. ``rows_out`` sits after the last exchange, in the write's result
    stage, whose updates Spark applies once per partition.
    """
    t0 = time.perf_counter()
    name = f"{job.release_name}_{job.release_year}_{job.state}".strip("_")
    filters: dict[str, object] = {}
    if job.state:
        filters["state"] = job.state
    if job.upgrades:
        filters["upgrade"] = list(job.upgrades)

    counters = StageCounters()
    src = read_partitioned(spark, config.src_path, partition_filters=filters or None)
    src = counters.count_stage(src, "rows_listed")
    part_cols = [c for c in PARTITION_COLS if c in src.columns]
    if part_cols:
        # The job's one shuffle: raw rows hash-partitioned exactly as
        # write_parquet repartitions, so the resample (grouped by a
        # superset of part_cols) needs no exchange of its own and the
        # write's repartition is elided. The trade: no map-side partial
        # aggregate, and the aggregate runs in the write's tasks, one per
        # (upgrade, state) hash bucket. Rejected, measured on a 4-core VM:
        # the partial aggregate kept and only the write-side repartition
        # dropped (4 jobs, ~-20% op CPU over 3 pairs, against -31% here);
        # spark.sql.codegen.maxFields=200 (within noise).
        src = src.repartition(*part_cols)

    measures = mean_cols if mean_cols is not None else tuple(
        c for c in REFERENCE_MEASURE_COLUMNS if c in src.columns
    )
    hourly = resample_hourly(
        src,
        ts_col=ts_col,
        entity_cols=tuple(c for c in entity_cols if c in src.columns),
        min_cols=tuple(c for c in min_cols if c in src.columns),
        mean_cols=measures,
    )
    hourly = counters.count_stage(hourly, "rows_out")

    out_path = f"{config.dest_path}/{config.output_dir}/{epoch}/{name}"
    write_parquet(hourly, out_path, partition_by=part_cols, mode="overwrite")

    summary = counters.summary()
    return JobResult(
        job=name,
        rows_in=summary["rows_listed"],
        rows_out=summary["rows_out"],
        wall_seconds=round(time.perf_counter() - t0, 3),
        output_path=out_path,
        counters=summary,
        schema=hourly.schema,
    )


def bypass_metadata(
    spark: SparkSession, config: ETLConfig, metadata_subpath: str, epoch: str
) -> str:
    """S6 metadata bypass (fetch.py:161-196): copy the dimension table to the
    destination untransformed. Its schema comes from
    ``parquet_schema``'s memo, so an unchanged source is not re-inferred."""
    src = f"{config.src_path}/{metadata_subpath}"
    dest = f"{config.dest_path}/{config.output_dir}/{epoch}/{metadata_subpath}"
    meta = spark.read.schema(parquet_schema(spark, src)).parquet(src)
    meta.write.mode("overwrite").parquet(dest)
    return dest


def run_pipeline(
    spark: SparkSession,
    config: ETLConfig,
    metadata_subpath: str | None = None,
    register_tables: bool = False,
    table_prefix: str = "oedi",
    **job_kwargs,
) -> list[JobResult]:
    """Full pipeline: every job_specific entry (reference asyncio.gather
    fan-out, main.py:93-108 — here sequential Spark jobs; each is already
    cluster-parallel), plus optional metadata bypass + catalog registration
    (the crawler step, main.py:115-148). Tables are declared from the
    schema each step wrote, so registration reads no file.

    Output epoch: one timestamped dir per run, append-only (main.py:58-60).
    """
    epoch = time.strftime("%Y-%m-%d-%H-%M-%S", time.gmtime())
    results = []
    for job in config.job_specific:
        res = run_etl_job(spark, config, job, epoch, **job_kwargs)
        results.append(res)
        if register_tables:
            register_parquet_table(
                spark,
                data_table_name(table_prefix, job.state or "all"),
                res.output_path,
                schema=res.schema,
                partition_by=[c for c in PARTITION_COLS if c in res.schema.names],
            )
    if metadata_subpath:
        dest = bypass_metadata(spark, config, metadata_subpath, epoch)
        if register_tables:
            register_parquet_table(
                spark,
                metadata_table_name(table_prefix),
                dest,
                schema=parquet_schema(spark, f"{config.src_path}/{metadata_subpath}"),
            )
    return results

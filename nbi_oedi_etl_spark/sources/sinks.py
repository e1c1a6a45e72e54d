"""Parquet sinks.

Reference behaviors reproduced:
- snappy parquet output (transform.py:151-154, README.md:230) — Spark session
  default codec is set to snappy in session.py.
- hive-layout preservation: the reference echoes the original
  ``upgrade=…/state=…`` key under a timestamped run dir (upload.py:55,
  main.py:58-60); we use ``partitionBy`` which produces the same layout from
  the partition columns instead of string-echoing keys.
- bypass copy of dimension/metadata tables, unmodified (fetch.py:161-196),
  lives in ``pipeline.bypass_metadata``.

Scale notes: ``partitionBy`` at 100 TB needs care — writing P partitions from
T tasks creates up to P×T files. Repartition by the partition columns first
(done below) so each output partition is written by a bounded set of tasks,
and AQE coalescing keeps file counts sane.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "error",
) -> None:
    """Write a DataFrame as (optionally hive-partitioned) snappy parquet.

    The repartition by ``partition_by`` costs no shuffle when ``df``
    already hash-partitions on those columns at the session's partition
    count (``df.repartition(*partition_by)`` upstream, kept through
    narrow operators and aggregates grouped by a superset): Spark's
    EnsureRequirements elides a semantically equal repartition."""
    if partition_by:
        # Co-locate rows of the same output partition to avoid the P×T
        # small-file explosion at scale.
        df = df.repartition(*partition_by)
    writer = df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    path: str | None = None,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Write a hash-bucketed (optionally per-bucket-sorted) parquet table.

    The 100 TB co-location strategy the reference never needed (single node):
    two tables bucketed on their join key with the same bucket count join
    WITHOUT any shuffle — Spark's bucketed scan exposes the hash
    distribution, so SortMergeJoin/ShuffledHashJoin reads both sides
    in-place. Repeated fact⋈fact joins (orders⋈lineitem on orderkey) amortize
    ONE bucketing write against every downstream join; ``sort_by`` the join
    key to also skip the per-task sort. Plan property locked by
    tests/test_plans.py::test_bucketed_join_has_no_exchange.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int,
    mode: str = "error",
) -> None:
    """Range-clustered, sorted parquet layout for data skipping.

    ``repartitionByRange`` gives each output file a DISJOINT value range of
    ``cluster_by``; ``sortWithinPartitions`` tightens row-group min/max
    stats inside each file. A later filtered scan then prunes whole files /
    row groups from the footer statistics alone — at 100 TB this is the
    difference between reading one file and reading all of them for a
    point/range query on the cluster key. (The write itself costs one range
    shuffle with a sampled boundary pass — amortized across every
    downstream filtered read.)"""
    cols = [df[c] for c in cluster_by]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def _morton_spread(c):
    """Spread a 16-bit int's bits to even positions (codegen'd bitwise ops
    only — no UDF): 0bABCD → 0b0A0B0C0D over 32 bits."""
    from pyspark.sql import functions as F

    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int,
    mode: str = "error",
    bits: int = 16,
) -> None:
    """Z-order (Morton-curve) clustered parquet layout: multi-dimensional
    data skipping, where ``write_clustered`` only skips on its leading key.

    Each cluster column is scaled onto a 2^bits grid with ``width_bucket``
    (bounds from one cheap global min/max aggregate — no per-column sort),
    the two grid coordinates are bit-interleaved into a Morton code with
    pure bitwise expressions (whole-stage codegen, no UDF), and files are
    range-partitioned + sorted on that code. Because the Morton curve is
    locality-preserving in BOTH dimensions, every file's footer min/max is
    narrow on BOTH columns — a filtered scan on EITHER column (or both)
    prunes most files, which single-key range clustering can't do for the
    trailing column. This is the same layout discipline Delta/Iceberg
    OPTIMIZE ZORDER applies at 100 TB; cost is one extra aggregate pass +
    one range shuffle at write time, amortized over every filtered read.

    Linear min/max scaling is skew-sensitive (a heavy hitter collapses grid
    cells); for skewed keys pre-transform the column (log, rank bucket) —
    kept out of this writer so the scaling stays a one-pass plan.
    """
    from pyspark.sql import functions as F

    if len(cluster_by) != 2:
        raise ValueError("write_zordered interleaves exactly 2 columns")
    cx, cy = cluster_by
    nb = 1 << bits
    bounds = df.agg(
        F.min(F.col(cx).cast("double")).alias("xmin"),
        F.max(F.col(cx).cast("double")).alias("xmax"),
        F.min(F.col(cy).cast("double")).alias("ymin"),
        F.max(F.col(cy).cast("double")).alias("ymax"),
    ).first()

    def grid(col: str, lo: float, hi: float):
        if lo is None or hi is None or lo == hi:
            return F.lit(0)
        b = F.expr(f"width_bucket(cast(`{col}` as double), {lo!r}, {hi!r}, {nb})")
        return F.least(b, F.lit(nb)) - F.lit(1)

    z = _morton_spread(grid(cx, bounds["xmin"], bounds["xmax"])).bitwiseOR(
        F.shiftleft(_morton_spread(grid(cy, bounds["ymin"], bounds["ymax"])), 1)
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "error",
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files sized
    near ``target_file_bytes`` (default 128 MB — the HDFS-block-era
    sweet spot that still holds for S3 range reads). Returns the output
    file count.

    File count is derived from the dataset's ACTUAL on-disk bytes (the
    Spark file index's size sum), not row counts — compression ratio is
    data-dependent and row-based heuristics mis-size by 10×. The rewrite
    is one round-robin repartition (narrow input scan, no key shuffle
    semantics to preserve); for sorted/clustered layouts use
    write_clustered/write_zordered instead, which re-sort.

    At 100 TB this is the maintenance job that keeps scan task counts
    sane after streaming ingest (availableNow drains produce one file
    per micro-batch per partition: thousands of KB-sized files)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(src)
    total_bytes = (
        df.select("_metadata.file_path", "_metadata.file_size")
        .distinct()
        .agg(F.sum("file_size"))
        .first()[0]
    ) or 0
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df.repartition(n_files).write.mode(mode).parquet(dest)
    return (
        spark.read.parquet(dest)
        .select("_metadata.file_path")
        .distinct()
        .count()
    )


def write_audited(
    df: DataFrame,
    path: str,
    constraints: Sequence[tuple[str, str]],
    mode: str = "error",
) -> dict[str, int]:
    """Write-audit-publish: stage the data, run declarative constraints
    against the STAGED files, and only then move them to the final path —
    the pattern that keeps a bad batch out of the serving location (the
    reference uploads then reconciles after the fact,
    etl/oedi_etl/monitor.py; this gates BEFORE publication instead).

    ``constraints`` are (name, sql_predicate) pairs; each predicate is a
    boolean expression that must hold for EVERY row (violations are
    counted in one pass with conditional aggregates — one scan total,
    like data_quality_report). Raises ValueError listing violation
    counts if any constraint fails; the staging directory is left for
    inspection. Returns the per-constraint violation counts (all zero)
    on success."""
    import shutil

    from pyspark.sql import functions as F

    staging = path.rstrip("/") + "._staging"
    df.write.mode("overwrite").parquet(staging)
    spark = df.sparkSession
    staged = spark.read.parquet(staging)
    aggs = [
        F.sum((~F.expr(pred)).cast("bigint")).alias(name)
        for name, pred in constraints
    ]
    counts = staged.agg(*aggs).first().asDict()
    if any(v > 0 for v in counts.values()):
        bad = {k: v for k, v in counts.items() if v > 0}
        raise ValueError(f"write_audited: constraint violations {bad}; "
                         f"staged data left at {staging}")
    if mode == "error":
        import os

        if os.path.exists(path):
            raise FileExistsError(path)
    shutil.rmtree(path, ignore_errors=True)
    shutil.move(staging, path)
    return counts

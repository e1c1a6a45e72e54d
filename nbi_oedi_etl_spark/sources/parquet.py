"""Parquet sources: the engine's scan layer.

Replaces the reference's hand-built S3 lister + fetcher + pyarrow decoder
(reference etl/oedi_etl/fetch.py:40-249, transform.py:147-148) with Spark's
partition-discovering vectorized parquet reader. Partition pruning that the
reference implements by constructing S3 prefixes (fetch.py:60-82) becomes a
``.where()`` over partition columns that Catalyst prunes at file-index time;
column pruning the reference only TODO'd (transform.py:4) is free via
ColumnPruning → parquet column projection.

Scale notes: at 100 TB the scan cost is dominated by (a) listing — Spark's
InMemoryFileIndex parallelizes listing across the cluster when the number of
paths exceeds ``spark.sql.sources.parallelPartitionDiscovery.threshold`` —
and (b) row-group pruning, which needs predicates pushed to parquet
(verify with ``plans.assert_pushed_filters``).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nbi_oedi_etl_spark.memo import Memo, file_key

#: Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Inferred table schemas, keyed (path, fingerprint-of-files). METADATA
#: ONLY — a StructType, never data or results: every read still scans
#: the parquet files (this memo is what a catalog/metastore provides in
#: a real deployment: the table schema, so scans skip footer
#: inference). Profiled r15: inference costs ~0.08-0.1 s per
#: ``spark.read.parquet`` call and is NOT cached by Spark within a
#: session, so a 199-query × 3-pass bench re-inferred immutable
#: testdata schemas ~600+ times (guide §1.2: don't compute things you
#: throw away). The fingerprint covers the file set's (name, mtime_ns,
#: size) — any rewrite, add, or delete rotates the key and re-infers.
#: Shared with the stream sources (``streaming.ingest.table_schema``).
_TABLE_SCHEMA_MEMO = Memo(256)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (``{sf_dir}/{name}.parquet``).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    schema converter rejects outright (PARQUET_TYPE_ILLEGAL). We read nanos
    as long (legacy conf, runtime-settable) and rebuild a TIMESTAMP_NTZ by
    pure arithmetic from the NTZ epoch — truncating ns → µs exactly like
    DuckDB/pyarrow do, and independent of the session timezone.

    The inferred schema is memoized per (path, file fingerprint) — see
    ``_TABLE_SCHEMA_MEMO``; on a hit the scan runs with the declared
    schema (identical DataFrame: the declared schema IS what inference
    would return for the unchanged files). File LISTING still happens at
    every call, and every job still reads the parquet data.
    """
    if name == "events":
        # the conf must be set before either inference or a declared-
        # schema read of the nanos column
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    raw = None

    def infer():
        nonlocal raw
        raw = spark.read.parquet(path)
        return raw.schema

    schema = _TABLE_SCHEMA_MEMO.get(file_key(path), infer)
    if raw is None:
        raw = spark.read.schema(schema).parquet(path)
    if name == "events":
        if dict(raw.dtypes).get("ts") == "bigint":
            raw = raw.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return raw
    return raw


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The inferred schema of the parquet files at ``path``, memoized in
    ``_TABLE_SCHEMA_MEMO`` under their file-set key: a hit declares the
    schema without the footer-inference job, and any rewrite, add or
    delete of a file at ``path`` re-infers. A partitioned root is keyed on
    its top-level entries only, so pass a flat directory or a file."""
    return _TABLE_SCHEMA_MEMO.get(file_key(path), lambda: spark.read.parquet(path).schema)


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES) -> None:
    """Register temp views so queries can be expressed in Spark SQL too."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_partitioned(
    spark: SparkSession,
    root: str,
    partition_filters: Mapping[str, object | Sequence[object]] | None = None,
    columns: Sequence[str] | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """Scan a hive-partitioned parquet root with partition pruning.

    Mirrors the reference's partition-selective listing
    (fetch.py:60-82: only configured ``upgrade=<n>/state=<XX>`` prefixes are
    ever listed) — here the same pruning happens inside Catalyst's
    PartitioningAwareFileIndex, so unselected partitions are never listed,
    opened, or decoded.

    ``partition_filters`` maps partition column → value or list of values
    (e.g. ``{"state": "AK", "upgrade": [0, 1]}``).
    """
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    df = reader.parquet(root)
    if partition_filters:
        pred: Column | None = None
        for col_name, val in partition_filters.items():
            c = F.col(f"`{col_name}`")
            clause = (
                c.isin(list(val))
                if isinstance(val, (list, tuple, set))
                else (c == F.lit(val))
            )
            pred = clause if pred is None else (pred & clause)
        df = df.where(pred)
    if columns:
        df = df.select(*[F.col(f"`{c}`") for c in columns])
    return df

"""Catalog registration — the engine's replacement for Glue crawlers.

The reference creates no tables in code; Glue crawlers infer them after each
run (lib/nbi-open-data-analytics-stack.ts:351-389, main.py:115-148), with the
naming convention ``<prefix>_state_<xx>`` for per-state data tables and a
single shared ``<prefix>_parquet`` metadata table (sql/saved-queries.sql:13-14,
README.md:370-372). In Spark the equivalent is explicit and deterministic:
``CREATE TABLE … USING PARQUET LOCATION …`` + ``recoverPartitions``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from nbi_oedi_etl_spark.functions.scalars import quoted


def register_parquet_table(
    spark: SparkSession,
    name: str,
    location: str,
    recover_partitions: bool = True,
    schema: StructType | None = None,
    partition_by: Sequence[str] = (),
) -> None:
    """Register an external parquet table over ``location``.

    With no ``schema`` the table's schema (and its partition columns) are
    inferred from the files, a Spark job over their footers. A caller that
    just wrote the files passes the ``schema`` it wrote and the
    ``partition_by`` columns it wrote with: the table is then declared,
    partition columns last as inference orders them, and no file is read —
    an empty location (only ``_SUCCESS``) registers as an empty table
    instead of failing to infer."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    if schema is None:
        spark.sql(f"CREATE TABLE {name} USING PARQUET LOCATION '{location}'")
    else:
        cols = [f for f in schema.fields if f.name not in partition_by]
        cols += [schema[c] for c in partition_by]
        parts = ", ".join(quoted(c) for c in partition_by)
        spark.sql(
            f"CREATE TABLE {name} ({StructType(cols).toDDL()}) USING PARQUET "
            + (f"PARTITIONED BY ({parts}) " if parts else "")
            + f"LOCATION '{location}'"
        )
    if recover_partitions and (schema is None or partition_by):
        try:
            spark.catalog.recoverPartitions(name)
        except AnalysisException:
            # Unpartitioned layout — nothing to recover. Anything else
            # (permissions, bad location, catalog failure) propagates.
            pass


def data_table_name(prefix: str, state: str) -> str:
    """Per-state data table name, reference convention ``<prefix>_state_<xx>``
    (sql/saved-queries.sql:14)."""
    return f"{prefix}_state_{state.lower()}"


def metadata_table_name(prefix: str) -> str:
    """Shared metadata table name, reference convention ``<prefix>_parquet``
    (sql/saved-queries.sql:13)."""
    return f"{prefix}_parquet"

from nbi_oedi_etl_spark.sources.formats import (
    RecordIngestReport,
    ingest_untrusted_records,
    read_csv,
    read_csv_with_quarantine,
    read_json,
    read_json_with_quarantine,
    read_orc,
    write_csv,
    write_json,
    write_orc,
)
from nbi_oedi_etl_spark.sources.quarantine import (
    IngestReport,
    LazyQuarantineReport,
    QuarantineReport,
    ingest_untrusted,
    read_with_quarantine,
)
from nbi_oedi_etl_spark.sources.parquet import (
    TABLES,
    load_tables,
    read_partitioned,
    read_table,
    register_views,
)
from nbi_oedi_etl_spark.sources.sinks import (
    write_bucketed,
    write_clustered,
    write_parquet,
    write_zordered,
)

__all__ = [
    "TABLES",
    "load_tables",
    "read_partitioned",
    "read_table",
    "register_views",
    "read_csv",
    "read_csv_with_quarantine",
    "read_json",
    "read_json_with_quarantine",
    "read_orc",
    "write_csv",
    "write_json",
    "write_orc",
    "IngestReport",
    "LazyQuarantineReport",
    "QuarantineReport",
    "RecordIngestReport",
    "ingest_untrusted_records",
    "ingest_untrusted",
    "read_with_quarantine",
    "write_bucketed",
    "write_clustered",
    "write_parquet",
    "write_zordered",
]

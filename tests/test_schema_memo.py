"""r15 read_table schema memo: metadata-only, staleness-keyed.

The memo caches ONLY the inferred StructType keyed by a file-set
fingerprint (name, mtime_ns, size per entry) — these tests pin that (a)
a hit returns the identical schema and rows, (b) rewriting the file
(even same-shape) re-reads real data, (c) a schema-changing rewrite
re-infers instead of serving the stale StructType, and (d) the events
nanos-ts rebuild survives the memoized path.
"""

from __future__ import annotations

import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq

from nbi_oedi_etl_spark.sources.parquet import _TABLE_SCHEMA_MEMO, read_table


def _write_docs(path: str, ids, texts, extra=None) -> None:
    cols = {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}
    if extra is not None:
        cols["extra"] = pa.array(extra, pa.int64())
    pq.write_table(pa.table(cols), path)


def _bump_mtime(path: str) -> None:
    # mtime_ns granularity can round on some filesystems — force it
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_memo_hit_same_schema_and_rows(spark):
    d = tempfile.mkdtemp()
    _write_docs(f"{d}/documents.parquet", [1, 2], ["a b", "c d"])
    df1 = read_table(spark, d, "documents")
    df2 = read_table(spark, d, "documents")  # memo hit
    assert df1.schema == df2.schema
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))


def test_rewrite_same_shape_reads_new_data(spark):
    """No result caching: every read scans the files — a same-schema
    rewrite must surface the NEW rows whether or not the schema memo
    hits (the memo carries metadata only)."""
    d = tempfile.mkdtemp()
    p = f"{d}/documents.parquet"
    _write_docs(p, [1], ["old"])
    assert [r["text"] for r in read_table(spark, d, "documents").collect()] == ["old"]
    time.sleep(0.01)
    _write_docs(p, [1], ["new"])
    _bump_mtime(p)
    assert [r["text"] for r in read_table(spark, d, "documents").collect()] == ["new"]


def test_schema_change_reinfers(spark):
    d = tempfile.mkdtemp()
    p = f"{d}/documents.parquet"
    _write_docs(p, [1], ["x"])
    s1 = read_table(spark, d, "documents").schema
    assert [f.name for f in s1] == ["doc_id", "text"]
    time.sleep(0.01)
    _write_docs(p, [2], ["y"], extra=[7])
    _bump_mtime(p)
    s2 = read_table(spark, d, "documents").schema
    assert [f.name for f in s2] == ["doc_id", "text", "extra"]


def test_events_ts_rebuild_on_memoized_path(spark):
    """The nanos→TIMESTAMP_NTZ rebuild must apply identically on the
    cold (inferred) and warm (declared-schema) reads."""
    sf = "/root/testdata/sf0.001"
    cold_key_count = len(_TABLE_SCHEMA_MEMO)
    df1 = read_table(spark, sf, "events")
    df2 = read_table(spark, sf, "events")  # warm
    assert dict(df1.dtypes)["ts"] == dict(df2.dtypes)["ts"]
    r1 = sorted(map(tuple, df1.select("ts").limit(5).collect()))
    r2 = sorted(map(tuple, df2.select("ts").limit(5).collect()))
    assert r1 == r2
    assert len(_TABLE_SCHEMA_MEMO) >= cold_key_count


# ---------------------------------------------------------------------------
# Stream sources share the memo (``ingest.table_schema``): the r15 stream
# memo keyed on the top path's mtime only, so it (a) cached under a
# ``None`` mtime forever when ``os.stat`` failed and (b) missed an
# in-place rewrite of a directory-of-parts table's part file, which leaves
# the directory's mtime unchanged (ADVICE r15).
# ---------------------------------------------------------------------------


def test_stream_schema_unstatable_path_is_not_memoized(spark, monkeypatch):
    from nbi_oedi_etl_spark.streaming import ingest

    d = tempfile.mkdtemp()
    p = f"{d}/documents.parquet"
    real_stat = os.stat

    def failing_stat(path, *args, **kwargs):
        if str(path).startswith(d):
            raise OSError("stat unavailable")
        return real_stat(path, *args, **kwargs)

    def schema_with_stat_failing():
        with monkeypatch.context() as m:
            m.setattr(os, "stat", failing_stat)
            return ingest.table_schema(spark, d, "documents")

    _write_docs(p, [1], ["x"])
    before = len(_TABLE_SCHEMA_MEMO)
    assert [f.name for f in schema_with_stat_failing()] == ["doc_id", "text"]
    assert len(_TABLE_SCHEMA_MEMO) == before
    _write_docs(p, [2], ["y"], extra=[7])
    assert [f.name for f in schema_with_stat_failing()] == ["doc_id", "text", "extra"]


def test_stream_schema_reinfers_after_in_place_part_rewrite(spark):
    from pyspark.sql.types import LongType, StringType

    from nbi_oedi_etl_spark.streaming import ingest

    d = tempfile.mkdtemp()
    table_dir = f"{d}/documents.parquet"
    os.mkdir(table_dir)
    part = f"{table_dir}/part-0.parquet"
    _write_docs(part, [1], ["x"])
    dir_st = os.stat(table_dir)
    assert ingest.table_schema(spark, d, "documents")["doc_id"].dataType == LongType()
    time.sleep(0.01)
    pq.write_table(pa.table({"doc_id": pa.array(["1"]), "text": pa.array(["x"])}), part)
    _bump_mtime(part)
    os.utime(table_dir, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert os.stat(table_dir).st_mtime_ns == dir_st.st_mtime_ns
    assert ingest.table_schema(spark, d, "documents")["doc_id"].dataType == StringType()

"""End-to-end pipeline test on a reference-shaped fixture: hive-partitioned
15-min series with DOTTED column names (FIXTURES.md F1 — dotted names are
load-bearing, SURVEY.md §7.4.1), through partition-pruned read → hourly
resample → partitioned write → reconciliation.
"""

from __future__ import annotations

import pandas as pd
import pytest

from nbi_oedi_etl_spark.config import ETLConfig, JobSpec
from nbi_oedi_etl_spark.pipeline import run_pipeline

MEASURES = [
    "out.electricity.total.energy_consumption",
    "out.electricity.total.energy_consumption_intensity",
    "out.other_fuel.water_systems.energy_consumption",  # the _intensity-less one
]


@pytest.fixture(scope="module")
def ts_fixture(tmp_path_factory):
    """3 partitions × 2 buildings × 8 hours of 15-min data, one parquet per
    (upgrade, state) like the reference's per-building files."""
    root = tmp_path_factory.mktemp("oedi_src")
    rows_per_bldg = 32  # 8 hours of 15-min samples
    for upgrade, state in [(0, "AK"), (1, "AK"), (0, "CA")]:
        part_dir = root / f"upgrade={upgrade}" / f"state={state}"
        part_dir.mkdir(parents=True)
        frames = []
        for bldg in (100, 200):
            # µs precision → parquet TIMESTAMP(MICROS) → Spark TIMESTAMP_NTZ
            # (ns would be read as long under nanosAsLong, like events.ts)
            ts = pd.date_range("2024-01-01", periods=rows_per_bldg, freq="15min").astype(
                "datetime64[us]"
            )
            df = pd.DataFrame({"timestamp": ts, "bldg_id": bldg})
            for i, m in enumerate(MEASURES):
                df[m] = [
                    (bldg + i * 10 + j * 0.25) for j in range(rows_per_bldg)
                ]
            frames.append(df)
        pd.concat(frames).to_parquet(part_dir / "data.parquet", index=False)
    return str(root)


def test_pipeline_end_to_end(spark, ts_fixture, tmp_path):
    config = ETLConfig(
        src_path=ts_fixture,
        dest_path=str(tmp_path / "dest"),
        job_specific=[JobSpec(release_year="2024", release_name="test", state="AK", upgrades=[0, 1])],
    )
    results = run_pipeline(spark, config)
    assert len(results) == 1
    res = results[0]
    # 2 upgrades × 2 buildings × 32 15-min rows in; ÷4 rows out (hourly)
    assert res.rows_in == 2 * 2 * 32
    assert res.rows_out == 2 * 2 * 8
    assert res.counters["rows_listed"] == res.rows_in

    out = spark.read.parquet(res.output_path)
    # reference naming (SURVEY.md §1.4): _min keys, _mean measures, group keys last
    assert "bldg_id_min" in out.columns
    assert "timestamp_min" in out.columns
    for m in MEASURES:
        assert f"{m}_mean" in out.columns
    # partition pruning: CA was never read
    assert out.where("state = 'CA'").count() == 0
    assert set(r["state"] for r in out.select("state").distinct().collect()) == {"AK"}

    # value check: mean of 4 consecutive 15-min samples
    first = (
        out.where("bldg_id_min = 100 AND upgrade = 0")
        .orderBy("timestamp")
        .select(f"`{MEASURES[0]}_mean`")
        .first()[0]
    )
    # samples 100.0, 100.25, 100.5, 100.75 → mean 100.375
    assert first == pytest.approx(100.375)


def test_pipeline_prunes_partitions(spark, ts_fixture):
    """The partition filter must reach the file index — upgrade=1/state=CA
    files are never listed in the scan."""
    from nbi_oedi_etl_spark.sources.parquet import read_partitioned

    from nbi_oedi_etl_spark.plans import partition_filters

    df = read_partitioned(
        spark, ts_fixture, partition_filters={"state": "AK", "upgrade": [0]}
    )
    assert df.count() == 2 * 32
    pf = partition_filters(df)
    assert "state" in pf and "upgrade" in pf, f"no partition filters in scan: {pf!r}"


# The tests below put their metadata under ``_meta`` (skipped by partition
# discovery) and run before test_metadata_bypass, whose ``metadata`` dir
# in the shared fixture root conflicts with the hive layout.


@pytest.fixture(scope="module")
def ts_meta(ts_fixture):
    """A dimension table beside ts_fixture's partitions: dotted names and
    a TIMESTAMP_NTZ column, like the reference's building metadata."""
    import os

    os.makedirs(f"{ts_fixture}/_meta", exist_ok=True)
    pd.DataFrame(
        {
            "bldg_id": [100, 200],
            "in.state": ["AK", "AK"],
            "in.built": pd.to_datetime(["1990-01-01", "2005-06-01"]).astype("datetime64[us]"),
        }
    ).to_parquet(f"{ts_fixture}/_meta/meta.parquet", index=False)
    return "_meta"


def _one_state_config(ts_fixture, dest, state="AK") -> ETLConfig:
    return ETLConfig(
        src_path=ts_fixture,
        dest_path=str(dest),
        job_specific=[JobSpec(release_year="2024", release_name="test", state=state, upgrades=[0, 1])],
    )


def _jobs_submitted(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _sorted_rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_pipeline_op_runs_four_spark_jobs(spark, ts_fixture, ts_meta, tmp_path):
    """One JobSpec with metadata bypass and registration submits at most
    4 Spark jobs with a warm schema memo (source inference, the write's
    map and result stages, the metadata rewrite); it submitted 11 when
    rows_out was a re-read count and the tables were inferred."""
    config = _one_state_config(ts_fixture, tmp_path / "dest")
    run_pipeline(spark, config, metadata_subpath=ts_meta)  # warms the schema memo
    j0 = _jobs_submitted(spark)
    (res,) = run_pipeline(
        spark, config, metadata_subpath=ts_meta, register_tables=True, table_prefix="pin"
    )
    jobs = _jobs_submitted(spark) - j0
    assert jobs <= 4, f"{jobs} Spark jobs for one op"
    assert res.rows_out == spark.read.parquet(res.output_path).count() == 2 * 2 * 8
    assert res.counters == {"rows_listed": 2 * 2 * 32, "rows_out": 2 * 2 * 8}


def test_declared_tables_match_inference(spark, ts_fixture, ts_meta, tmp_path):
    """The tables run_pipeline declares from the written schema read
    exactly like the same locations registered by schema inference."""
    from nbi_oedi_etl_spark.sources.catalog import register_parquet_table

    config = _one_state_config(ts_fixture, tmp_path / "dest")
    (res,) = run_pipeline(
        spark, config, metadata_subpath=ts_meta, register_tables=True, table_prefix="decl"
    )
    meta_dest = f"{res.output_path.rsplit('/', 1)[0]}/{ts_meta}"
    for declared, location in [("decl_state_ak", res.output_path), ("decl_parquet", meta_dest)]:
        register_parquet_table(spark, "inferred", location)
        assert spark.table(declared).schema == spark.table("inferred").schema
        assert _sorted_rows(spark.table(declared)) == _sorted_rows(spark.table("inferred"))
        if declared == "decl_state_ak":
            assert _sorted_rows(spark.sql(f"SHOW PARTITIONS {declared}")) == _sorted_rows(
                spark.sql("SHOW PARTITIONS inferred")
            ) == [("upgrade=0/state=AK",), ("upgrade=1/state=AK",)]
    spark.sql("DROP TABLE inferred")
    schema = spark.table("decl_state_ak").schema
    assert schema["timestamp_min"].dataType.typeName() == "timestamp_ntz"
    assert schema["upgrade"].dataType.typeName() == "integer"
    assert spark.table("decl_parquet").schema["in.built"].dataType.typeName() == "timestamp_ntz"


def test_job_matching_no_partition_registers_empty_table(spark, ts_fixture, tmp_path):
    """A JobSpec whose state has no partition writes only ``_SUCCESS``:
    the op returns 0 rows in and out and registers an empty table under
    the declared schema (inferring it from the empty location failed)."""
    config = _one_state_config(ts_fixture, tmp_path / "dest", state="ZZ")
    (res,) = run_pipeline(spark, config, register_tables=True, table_prefix="empty")
    assert res.rows_in == res.rows_out == 0
    table = spark.table("empty_state_zz")
    assert table.count() == 0
    assert table.columns[-2:] == ["upgrade", "state"]
    assert [f"{m}_mean" for m in MEASURES] == table.columns[2:5]


def test_bypass_registers_rewritten_metadata_schema(spark, tmp_path):
    """Stale metadata: a metadata parquet rewritten with one more column
    between two runs in one session shows that column in the second
    registered table (the bypass's schema memo is keyed on the files,
    not the path)."""
    src = tmp_path / "src"
    (src / "_meta").mkdir(parents=True)
    meta = src / "_meta" / "meta.parquet"
    config = ETLConfig(src_path=str(src), dest_path=str(tmp_path / "dest"))
    pd.DataFrame({"bldg_id": [1, 2], "in.state": ["AK", "CA"]}).to_parquet(meta, index=False)
    run_pipeline(spark, config, metadata_subpath="_meta", register_tables=True, table_prefix="stale")
    assert spark.table("stale_parquet").columns == ["bldg_id", "in.state"]

    pd.DataFrame(
        {"bldg_id": [1, 2], "in.sqft": [10.0, 20.0], "in.state": ["AK", "CA"]}
    ).to_parquet(meta, index=False)
    run_pipeline(spark, config, metadata_subpath="_meta", register_tables=True, table_prefix="stale")
    table = spark.table("stale_parquet")
    assert table.columns == ["bldg_id", "in.sqft", "in.state"]
    assert _sorted_rows(table) == [(1, 10.0, "AK"), (2, 20.0, "CA")]


def test_metadata_bypass(spark, ts_fixture, tmp_path):
    """S6: dimension data copied through unmodified (fetch.py:161-196)."""
    import os

    meta_dir = f"{ts_fixture}/metadata"
    os.makedirs(meta_dir, exist_ok=True)
    pd.DataFrame(
        {
            "bldg_id": [100, 200],
            "in.state": ["AK", "AK"],
            "in.comstock_building_type": ["Hospital", "School"],
        }
    ).to_parquet(f"{meta_dir}/meta.parquet", index=False)

    config = ETLConfig(src_path=ts_fixture, dest_path=str(tmp_path / "dest2"))
    from nbi_oedi_etl_spark.pipeline import bypass_metadata

    dest = bypass_metadata(spark, config, "metadata", "epoch1")
    copied = spark.read.parquet(dest)
    assert copied.count() == 2
    assert "`in.state`" in [f"`{c}`" for c in copied.columns]


def test_csv_json_orc_roundtrip(spark, tmp_path):
    """CSV/JSON/ORC sources (SURVEY.md §2.1 'engine exposes for free'):
    schema-pinned round-trips preserve rows and values."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.sources import (
        read_csv,
        read_json,
        read_orc,
        read_table,
        write_csv,
        write_json,
        write_orc,
    )

    src = read_table(spark, "/root/testdata/sf0.001", "nation")
    want = sorted(tuple(r) for r in src.collect())

    p = str(tmp_path / "nation_csv")
    write_csv(src, p)
    got = sorted(tuple(r) for r in read_csv(spark, p, schema=src.schema).collect())
    assert got == want

    p = str(tmp_path / "nation_json")
    write_json(src, p)
    got = sorted(tuple(r) for r in read_json(spark, p, schema=src.schema).collect())
    assert got == want

    p = str(tmp_path / "nation_orc")
    write_orc(src, p)
    got = sorted(tuple(r) for r in read_orc(spark, p).collect())
    assert got == want


def test_binary_file_source_roundtrip(spark, tmp_path):
    """binaryFile source: opaque blobs come back byte-identical with their
    metadata — the multimodal ingestion edge."""
    from nbi_oedi_etl_spark.sources.formats import read_binary_files

    blobs = {"a.img": b"\x89fakepng\x00\x01", "b.img": b"\x00" * 64, "skip.txt": b"x"}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    df = read_binary_files(spark, str(tmp_path), glob="*.img")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert bytes(rows["a.img"].content) == blobs["a.img"]
    assert rows["b.img"].length == 64


def test_write_clustered_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered layout: every output file owns a disjoint span of
    the cluster key, so footer stats alone can prune filtered scans."""
    import glob as globmod

    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.sources.sinks import write_clustered

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_clustered(li, str(tmp_path / "out"), ["l_shipdate"], num_files=4)
    spans = []
    for f in globmod.glob(str(tmp_path / "out" / "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_shipdate"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min), maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) == 4
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, hi2)}"


def test_write_zordered_narrows_both_dimensions(spark, tmp_path):
    """Z-order layout: per-file footer min/max must be narrow on BOTH
    cluster columns. Control: single-key range clustering on user_id keeps
    every file's ts span at (nearly) the full range, so a ts-filtered scan
    prunes nothing; the Morton layout shrinks the mean per-file area by an
    order of magnitude, i.e. a filter on EITHER column skips most files."""
    import glob as globmod

    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.sources.sinks import write_clustered, write_zordered

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "user_id", "event_id", "value"
    )

    def file_spans(path, col):
        spans = []
        for f in globmod.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min), maxs.append(st.max)
            spans.append((min(mins), max(maxs)))
        return spans

    def mean_span(path, col, width):
        spans = file_spans(path, col)
        return sum((hi - lo) / width for lo, hi in spans) / len(spans)

    lo = ev.groupBy().min("user_id", "event_id").first()
    hi = ev.groupBy().max("user_id", "event_id").first()
    wx, wy = hi[0] - lo[0], hi[1] - lo[1]

    write_zordered(ev, str(tmp_path / "z"), ["user_id", "event_id"], num_files=16)
    write_clustered(ev, str(tmp_path / "r"), ["user_id"], num_files=16)
    # verify no rows were lost
    assert spark.read.parquet(str(tmp_path / "z")).count() == ev.count()
    # z-order: BOTH dimensions narrow — a filter on either column skips files
    zx = mean_span(str(tmp_path / "z"), "user_id", wx)
    zy = mean_span(str(tmp_path / "z"), "event_id", wy)
    assert zx < 0.5 and zy < 0.5, f"z spans not tight in both dims: {zx}, {zy}"
    # range layout: leading key tight but trailing column unskippable
    ry = mean_span(str(tmp_path / "r"), "event_id", wy)
    assert ry > 0.8, f"control layout unexpectedly tight on event_id: {ry}"
    assert zy < ry / 2, f"z-order event_id span ({zy}) not better than range ({ry})"


def test_python_datasource_partitions_and_determinism(spark):
    """Spark 4 Python DataSource: one input partition per building (the
    parallelism contract), deterministic regenerable values, exact row
    count, and pushed projection doesn't break the reader."""
    from nbi_oedi_etl_spark.sources import python_datasource

    python_datasource.register(spark)
    df = spark.read.format("synthetic_buildings").option("buildings", 5).load()
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 5 * python_datasource.READINGS_PER_DAY
    row = df.where("bldg_id = 3").orderBy("ts").first()
    assert row["value"] == python_datasource.reading_value(3, 0)
    import datetime as dt

    assert row["ts"] == python_datasource.BASE_DAY
    # projection-only read still yields full cardinality
    assert df.select("value").count() == 480


def test_reference_etl_config_json_loads_with_unknown_keys():
    """A reference-shaped ``etl_config`` carries settings this engine has
    no use for (the reference's queue and watchdog knobs, a shuffle pin):
    ``from_json`` drops them and keeps the job selections intact."""
    import json

    text = json.dumps({
        "src_path": "s3://oedi-data-lake/nrel-pds-building-stock",
        "dest_path": "s3://dest-bucket/etl",
        "output_dir": "etl_output",
        "idle_timeout_in_minutes": 5,
        "max_listing_queue_size": 1000,
        "shuffle_partitions": 32,
        "job_specific": [
            {"release_year": "2024", "release_name": "comstock_amy2018_release_1",
             "state": "AK", "upgrades": [0, 1]},
            {"release_year": "2024", "release_name": "comstock_amy2018_release_1",
             "state": "CA", "upgrades": [0]},
        ],
    })
    config = ETLConfig.from_json(text)
    assert config.src_path == "s3://oedi-data-lake/nrel-pds-building-stock"
    assert config.output_dir == "etl_output"
    assert config.job_specific == [
        JobSpec("2024", "comstock_amy2018_release_1", "AK", [0, 1]),
        JobSpec("2024", "comstock_amy2018_release_1", "CA", [0]),
    ]
    assert ETLConfig.from_json(config.to_json()) == config

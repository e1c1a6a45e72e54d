"""Structured Streaming restatement of the reference's pipeline semantics
(SURVEY.md §2.9).

The reference hand-builds streaming machinery around a batch job: bounded
queues with backpressure (T1, fetch.py:108-140), listing pacing (T2),
poison-pill completion (T3), an idle watchdog (T4), and per-run output
epochs (T5). Structured Streaming subsumes every one:

- T1/T2 → ``maxFilesPerTrigger`` (source-side backpressure)
- T3   → ``trigger(availableNow=True)`` (process-everything-then-stop)
- T4   → ``StreamingQuery.awaitTermination(timeout)`` + listener
- T5   → checkpointed sink, exactly-once per epoch

The hourly resample A1 becomes a TUMBLING WINDOW aggregation with a
watermark for late data — semantics the batch group-by can't express
incrementally.

Scale: streaming state is keyed by (entity, window); the watermark bounds
state size (old windows are evicted once the watermark passes), so a
continuous 100 TB/day ingest holds only the in-flight hour per entity.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nbi_oedi_etl_spark.sources import parquet


#: state-store partitions of a scoped drain session (see below)
_DRAIN_SHUFFLE_PARTITIONS = 8


def scoped_streaming_session(spark: SparkSession) -> SparkSession:
    """A cloned session (``newSession``: shared SparkContext + cached data,
    ISOLATED SQLConf) for running one availableNow drain.

    Stateful streaming cost at drain scale is per-partition state-store
    commits × micro-batches, not data volume, so drains pin a small
    ``spark.sql.shuffle.partitions`` (measured 65 s → seconds at 8 for the
    applyInPandasWithState sessionizer). Mutating the CALLER's session for
    that — the round-2/3 pattern, ``conf.set`` + restore in ``finally`` —
    serializes concurrent use of the session and leaks the pin if the
    restore is skipped (interrupt mid-drain). A cloned session makes the
    pin scoped by construction: set once, never restored, invisible to the
    caller. At real scale raise it to ≈ cluster parallelism.

    The session timezone is re-pinned to UTC because watermarks require
    TIMESTAMP (with local tz): NTZ→TZ casts are then value-preserving and
    windows line up with batch/oracle naive timestamps."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(_DRAIN_SHUFFLE_PARTITIONS))
    s.conf.set("spark.sql.session.timeZone", "UTC")
    return s


def table_schema(spark: SparkSession, sf_dir: str, table: str):
    """``StructType`` of ``{sf_dir}/{table}.parquet``, memoized in the
    batch reader's ``parquet._TABLE_SCHEMA_MEMO`` under the same file-set
    key (``read_table`` and ``events_file_stream`` both set
    ``nanosAsLong`` before reading ``events``, so their entries agree;
    Spark 4.1 infers ``ts`` identically either way). Profiled r15: every
    drain otherwise paid a ~0.12 s footer-inference job for an immutable
    testdata schema."""
    return parquet.parquet_schema(spark, f"{sf_dir}/{table}.parquet")


def table_file_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Schema-pinned file stream over ``{sf_dir}/{table}.parquet``,
    layout-agnostic: FileStreamSource needs a DIRECTORY basePath, so a
    directory-of-parts table (every real warehouse layout — caught by
    tools/fault_sweep.py's cleaned-replica registry run in r8) is
    streamed directly while the single-file fixtures stream the parent
    with a glob filter pinned to that one file."""
    import os

    raw_schema = table_schema(spark, sf_dir, table)
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(f"{sf_dir}/{table}.parquet"):
        return reader.parquet(f"{sf_dir}/{table}.parquet")
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def events_file_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    stream_dir: str | None = None,
) -> DataFrame:
    """Streaming twin of ``sources.parquet.read_table(spark, sf_dir,
    "events")`` with ``ts`` normalized to TimestampType (callers pin the
    session timezone to UTC, so NTZ→TZ casts are value-preserving and
    watermarks/windows line up with the batch oracle's naive timestamps).

    ``events.ts`` is parquet TIMESTAMP(NANOS); what Spark infers for it
    varies by version/conf: BIGINT when ``legacy.parquet.nanosAsLong``
    applies, TIMESTAMP_NTZ otherwise (Spark 4.1 reads nanos natively and
    ignores the legacy conf). Branching on the *inferred* dtype — instead
    of assuming one — is what keeps every streaming query runnable in
    both worlds.

    ``stream_dir`` switches the source to a prepared drain directory
    (heartbeat_drain_dir / epoch splits) that contains ONLY events-shaped
    parquet files, while the schema still comes from the sf_dir fixture.
    This is the ONE place ``nanosAsLong`` is ever set — always on the
    scoped streaming clone the caller passes in, never the shared session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if stream_dir is not None:
        # prepared drain directory: events-shaped files only, schema
        # still pinned from the sf_dir fixture
        raw_schema = table_schema(spark, sf_dir, "events")
        reader = spark.readStream.schema(raw_schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(stream_dir)
    else:
        # layout dispatch (file vs directory-of-parts) lives in ONE place
        stream = table_file_stream(spark, sf_dir, "events", max_files_per_trigger)
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "bigint":
        # ns-as-long: truncate to µs exactly like DuckDB/pyarrow.
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    if ts_dtype == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_hourly_resample(
    stream: DataFrame,
    ts_col: str = "timestamp",
    entity_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    mean_cols: Sequence[str] = (),
    watermark: str = "2 hours",
    round_means: int | None = None,
) -> DataFrame:
    """A1 as a tumbling-window streaming aggregation with late-data handling.

    Same ``_min``/``_mean`` naming as the batch resample; the hour bucket is
    ``window(ts, '1 hour').start``. Late rows within ``watermark`` update
    their window; older rows are dropped (reference precedent: none — data
    was historical; SURVEY.md §7.4.8 says this policy is ours to define)."""
    withw = stream.withWatermark(ts_col, watermark)
    aggs = []
    for c in min_cols:
        aggs.append(F.min(F.col(f"`{c}`")).alias(f"{c}_min"))
    for c in mean_cols:
        m = F.avg(F.col(f"`{c}`"))
        if round_means is not None:
            m = F.round(m, round_means)
        aggs.append(m.alias(f"{c}_mean"))
    out = withw.groupBy(
        *[F.col(f"`{c}`") for c in entity_cols],
        F.window(F.col(ts_col), "1 hour").alias("hour_window"),
    ).agg(*aggs)
    return out.withColumn("ts_hour", F.col("hour_window.start")).drop("hour_window")


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    queue_name: str = "ingest",
    output_mode: str = "complete",
) -> StreamingQuery:
    """Drain everything currently available then stop (poison-pill
    semantics, T3) into an in-memory sink table named ``queue_name``.
    ``complete`` suits stateful aggregations (the drained state IS the
    result); stream-stream joins only support ``append``."""
    return (
        df.writeStream.format("memory")
        .queryName(queue_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def await_with_idle_timeout(
    query: StreamingQuery,
    idle_timeout_seconds: float,
    poll_seconds: float = 0.5,
) -> bool:
    """T4 idle watchdog (reference monitor.py:221-274: stop the pipeline
    when all queues have been empty longer than ``idle_timeout_in_minutes``,
    checked every 30 s): stop a continuous streaming query once it has
    processed no input rows for ``idle_timeout_seconds``.

    Returns True if the watchdog stopped the query, False if the query
    terminated on its own first. Progress is read from the query's own
    ``recentProgress`` (numInputRows per micro-batch) — the declarative
    equivalent of the reference's four queue-empty checks.

    The idle clock ARMS on the first COMPLETED micro-batch, not at call
    time. The reference's check is queues-empty (monitor.py:221-274): a
    first batch still in flight means the pipeline is processing, not
    idle — only once a batch has completed is there evidence the queues
    have drained. Arming at call time (the pre-r14 behavior) killed
    streams whose first micro-batch outlived the timeout on a
    steal-degraded host, before any rows landed."""
    import time as _time

    # None until the first completed batch is observed: "no batch
    # completed yet" is pending input, never idleness.
    last_data: float | None = None
    seen: set[str] = set()
    while query.isActive:
        for p in query.recentProgress:
            if p is None:
                continue
            bid = f"{p['id']}/{p['batchId']}"
            if bid not in seen:
                seen.add(bid)
                if last_data is None or p.get("numInputRows", 0) > 0:
                    last_data = _time.monotonic()
        if (
            last_data is not None
            and _time.monotonic() - last_data >= idle_timeout_seconds
        ):
            query.stop()
            query.awaitTermination()
            return True
        _time.sleep(poll_seconds)
    return False


def heartbeat_drain_dir(
    sf_dir: str,
    sentinel_rows: list[tuple[str, int]],
    years: tuple[int, int] = (2030, 2031),
) -> str:
    """Build a temp events directory = the real ``events.parquet`` plus TWO
    far-future heartbeat sentinel files — the watermark-liveness pattern
    that makes an availableNow drain of a watermark-gated stateful operator
    (outer join, event-time-timeout state) emit EVERYTHING, so the
    streaming answer equals the batch view and a plain-SQL oracle applies.

    Why two files, and why rows per side: (1) watermark-gated results
    flush in the batch AFTER the watermark advances, so the drain needs
    trailing batches; (2) the global watermark is the MIN over every
    watermarked input column — ``sentinel_rows`` must carry one row for
    EACH filtered side (event_type) or the lagging side pins the global
    watermark; (3) eviction runs inside the stateful operator, so sentinel
    rows must survive the side filters (callers exclude the negative
    sentinel user_ids from their output instead).

    File order is pinned twice over: mtimes are set explicitly, and the
    z-prefixed names also sort after ``events.parquet`` lexically.
    """
    import datetime
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="heartbeat_drain_")
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        # directory-of-parts layout (real warehouses; fault_sweep cleaned
        # replicas): copy every data file, keeping names that sort (and
        # mtime-order) before the z-prefixed sentinels below
        parts = sorted(
            f for f in os.listdir(src)
            if not f.startswith((".", "_")) and os.path.isfile(os.path.join(src, f))
        )
        for i, f in enumerate(parts):
            shutil.copy(os.path.join(src, f), os.path.join(d, f"events-{i:05d}.parquet"))
    else:
        shutil.copy(src, f"{d}/events.parquet")
    t = pq.read_table(src)
    base = max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))
    for i, year in enumerate(years):
        n = len(sentinel_rows)
        if len(t) == 0:
            # 0-row source: there is no template row to clone — synthesize
            # null rows on the same schema (the fields the drain needs are
            # overwritten below; the rest stay null and every caller
            # already excludes the negative sentinel user_ids)
            tbl = pa.Table.from_arrays(
                [pa.nulls(n, type=f.type) for f in t.schema], schema=t.schema
            )
        else:
            tbl = pa.concat_tables([t.slice(0, 1)] * n)
        for fld, val in [
            (
                "ts",
                pa.array(
                    [datetime.datetime(year, 1, 1)] * n,
                    type=t.schema.field("ts").type,
                ),
            ),
            ("event_type", pa.array([et for et, _ in sentinel_rows])),
            (
                "user_id",
                pa.array(
                    [uid for _, uid in sentinel_rows],
                    type=t.schema.field("user_id").type,
                ),
            ),
        ]:
            tbl = tbl.set_column(t.schema.get_field_index(fld), t.schema.field(fld), val)
        path = f"{d}/z{i + 1}_sentinel.parquet"
        pq.write_table(tbl, path)
        os.utime(path, (base + 10 * (i + 1), base + 10 * (i + 1)))
    return d

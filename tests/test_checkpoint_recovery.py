"""Checkpoint-loss / crash-mid-drain drill (r8, VERDICT r7 task 8):
kill an availableNow drain partway through, restart it against the SAME
checkpoint directory, and prove the sink state is exactly-once — no lost
batches, no duplicated batches — under Structured Streaming's
at-least-once foreachBatch replay contract.

Also pins the crash-window fix the drill found: ``ledger_append_sink``
used plain ``append`` + marker, so a crash between the data commit and
the marker write double-appended on replay (plain-append part files get
fresh names; nothing shadows the first attempt). The sink now writes
each batch to its own ``batch_id=<id>`` directory with overwrite — the
replay rewrites identical bytes wherever the crash landed.
"""

from __future__ import annotations

import math
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.streaming import foreach_batch


def _make_source(tmp_path: pathlib.Path, n_files: int = 4) -> str:
    """n_files single-key-value parquet files -> n deterministic batches
    with maxFilesPerTrigger=1."""
    d = tmp_path / "src"
    d.mkdir()
    for i in range(n_files):
        t = pa.table(
            {
                "k": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                "v": pa.array([i] * 10, pa.int64()),
            }
        )
        pq.write_table(t, d / f"f{i}.parquet")
    return str(d)


def _drain(spark, src: str, checkpoint: str, sink, fail_on_batch=None):
    """availableNow drain through foreachBatch; optionally crash once."""
    crashed = {"done": False}

    def wrapped(batch_df, batch_id):
        if fail_on_batch is not None and batch_id == fail_on_batch and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError(f"injected crash at batch {batch_id}")
        sink(batch_df, batch_id)

    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(wrapped)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_crash_mid_drain_then_restart_is_exactly_once(spark, tmp_path):
    """Crash at batch 2 of 4, restart with the same checkpoint: the replay
    must resume from committed offsets and the final output must hold each
    source row exactly once."""
    src = _make_source(tmp_path)
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    s = spark.newSession()
    sink = foreach_batch.ledger_append_sink(out, ledger)

    with pytest.raises(Exception, match="injected crash"):
        _drain(s, src, ckpt, sink, fail_on_batch=2)
    # restart against the SAME checkpoint — no fault this time
    _drain(s, src, ckpt, sink)

    got = sorted(r["k"] for r in s.read.parquet(out).collect())
    assert got == list(range(40)), "rows lost or duplicated across restart"


def test_crash_between_commit_and_marker_does_not_double_append(spark, tmp_path):
    """The exact window the pre-r8 sink got wrong: data committed, marker
    missing, batch replayed. Per-batch overwrite makes the replay land on
    identical state."""
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    sink = foreach_batch.ledger_append_sink(out, ledger)
    df = spark.range(7).withColumnRenamed("id", "k")

    sink(df, 0)
    # simulate the crash: erase the marker as if the process died after the
    # data commit but before the ledger write, then replay the batch
    marker = pathlib.Path(ledger) / "batch-0"
    assert marker.exists()
    marker.unlink()
    sink(df, 0)

    assert spark.read.parquet(out).drop("batch_id").count() == 7


def test_checkpoint_restart_skips_completed_batches(spark, tmp_path):
    """A full drain followed by a restart with the same checkpoint must be
    a no-op: availableNow finds no new files, the sink sees no batches."""
    src = _make_source(tmp_path)
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    s = spark.newSession()
    sink = foreach_batch.ledger_append_sink(out, ledger)

    _drain(s, src, ckpt, sink)
    n_markers = len(list(pathlib.Path(ledger).iterdir()))
    _drain(s, src, ckpt, sink)  # restart, nothing new
    assert len(list(pathlib.Path(ledger).iterdir())) == n_markers
    assert s.read.parquet(out).count() == 40


def test_lost_checkpoint_with_surviving_ledger_stays_exactly_once(spark, tmp_path):
    """Checkpoint DIRECTORY loss (the disk-pressure scenario): offsets are
    gone, so the restarted stream replays every file from scratch — the
    batch-id ledger + per-batch overwrite absorb the full replay as long
    as re-listing produces the same file->batch assignment (single-file
    triggers over an immutable directory, as here)."""
    src = _make_source(tmp_path)
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    s = spark.newSession()
    sink = foreach_batch.ledger_append_sink(out, ledger)

    _drain(s, src, str(tmp_path / "ckpt1"), sink)
    # checkpoint lost -> fresh checkpoint, full re-drain of the same files
    _drain(s, src, str(tmp_path / "ckpt2"), sink)

    got = sorted(r["k"] for r in s.read.parquet(out).collect())
    assert got == list(range(40))


def test_stateful_sessionizer_restart_recovers_state(spark, tmp_path):
    """The applyInPandasWithState sessionizer killed between micro-batches
    and restarted on the same checkpoint: carried GroupState must be
    recovered from the state store, so the final emitted sessions equal an
    uninterrupted drain. Batch 1 opens a session (10:00, 10:10); batch 2 —
    delivered only AFTER the restart — adds a late 10:05 and a 13:00
    closer. A sessionizer that lost state would emit a 1- or 2-event
    session."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.streaming import stateful

    def write_events(path, ts_list):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([1] * len(ts_list), pa.int64()),
                    "ts": pa.array(ts_list, pa.timestamp("us", tz="UTC")),
                }
            ),
            path,
        )

    d = tmp_path / "stream"
    d.mkdir()
    base = dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc)
    m = dt.timedelta(minutes=1)
    write_events(d / "a.parquet", [base, base + 10 * m])
    os.utime(d / "a.parquet", (1_000_000, 1_000_000))

    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    schema = s.read.parquet(str(d)).schema
    # memory sinks refuse checkpoint recovery ("does not support
    # recovering from checkpoint location") — restart drills need a
    # recoverable sink, so route through the exactly-once ledger sink
    sink = foreach_batch.ledger_append_sink(out, ledger)

    def drain():
        stream = (
            s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d))
        )
        sess = stateful.stateful_user_sessions(
            stream, gap_seconds=1800, watermark="30 minutes"
        )
        q = (
            sess.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # batch 1 only; session stays OPEN in state
    emitted = (
        s.read.parquet(out).count() if pathlib.Path(out).exists() else 0
    )
    assert emitted == 0
    # "kill": the first query is gone; new files land while we're down
    write_events(d / "b.parquet", [base + 5 * m, base + 180 * m])
    os.utime(d / "b.parquet", (2_000_000, 2_000_000))

    drain()  # restart on the same checkpoint
    rows = s.read.parquet(out).collect()
    assert len(rows) == 1, rows
    naive = base.replace(tzinfo=None)
    assert rows[0]["session_start"] == naive
    assert rows[0]["session_end"] == naive + 10 * m
    assert rows[0]["n_events"] == 3, "state lost across restart"


def test_partitioned_overwrite_sink_idempotent_across_restart(spark, tmp_path):
    """Same drill through the dynamic-partition-overwrite sink: crash at
    batch 1, restart, per-partition state must equal the batch view."""
    src = _make_source(tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    s = spark.newSession()
    base = foreach_batch.partitioned_overwrite_sink(out, ["v"])

    with pytest.raises(Exception, match="injected crash"):
        _drain(s, src, ckpt, base, fail_on_batch=1)
    _drain(s, src, ckpt, base)

    df = s.read.parquet(out)
    assert df.count() == 40
    assert sorted(r["v"] for r in df.select("v").distinct().collect()) == [0, 1, 2, 3]
    assert df.groupBy("v").count().where(F.col("count") != 10).count() == 0


# ------------------------------------------- restart drills of the specs
# Each foreachBatch spec's step keeps its state under its root, never in
# its closure. The drill crashes a drain right after batch 1 of 3 has
# committed its outputs, builds the step again from nothing and resumes
# on the same root: the state it ends with must equal an uninterrupted
# run's. A step that kept its state in a closure dict restarts from
# empty state and fails here.


def restart_drill(stream, tmp_path, make_step, read):
    """Uninterrupted run vs crash-after-batch-1 + resume; returns the
    uninterrupted run's sorted ``read(root)`` rows."""
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    foreach_batch.run_batches(stream, clean, make_step(clean))
    step = make_step(crashed)

    def crash_after_batch_1(batch_df, batch_id):
        step(batch_df, batch_id)
        if batch_id == 1:
            raise RuntimeError("injected crash after batch 1")

    with pytest.raises(Exception, match="injected crash"):
        foreach_batch.run_batches(stream, crashed, crash_after_batch_1)
    foreach_batch.run_batches(stream, crashed, make_step(crashed))
    want = sorted(read(clean))
    assert want and sorted(read(crashed)) == want
    return want


def _write_table(tmp_path: pathlib.Path, name: str, table: pa.Table) -> str:
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir(exist_ok=True)
    pq.write_table(table, sf_dir / f"{name}.parquet")
    return str(sf_dir)


@pytest.fixture
def events(spark, tmp_path):
    """(session, 3-slice events stream): 9 events over 3 days, one slice
    per trigger. User 7 shows up only in batch 0, so a step that forgets
    batch 0 on restart loses it."""
    import datetime as dt

    from nbi_oedi_etl_spark.streaming import ingest
    from nbi_oedi_etl_spark.workload_banded import stage_sliced_thirds

    t0 = dt.datetime(2024, 1, 1)
    sf_dir = _write_table(tmp_path, "events", pa.table({
        "event_id": pa.array(range(9), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(hours=7 * i) for i in range(9)], pa.timestamp("us")),
        "user_id": pa.array([7, 0, 1, 2, 3, 0, 1, 2, 3], pa.int64()),
        "event_type": [("view", "click", "purchase")[i % 3] for i in range(9)],
        "value": [float(i) for i in range(9)],
        "props": ["{}"] * 9,
    }))
    s = ingest.scoped_streaming_session(spark)
    src = stage_sliced_thirds(sf_dir, "events")
    return s, ingest.events_file_stream(s, sf_dir, max_files_per_trigger=1, stream_dir=src)


def _last_version(s, root: str, name: str) -> list[tuple]:
    k = foreach_batch.last_committed(root, name, math.inf)
    return [tuple(r) for r in s.read.parquet(f"{root}/{name}/batch={k}").collect()]


def test_event_states_resume_from_their_root(events, tmp_path):
    """The upsert, unique-users and EWMA steps, each under its own
    sub-root, drilled as one step (one set of drains for all three)."""
    from nbi_oedi_etl_spark.workload_ext19 import _upsert_step
    from nbi_oedi_etl_spark.workload_ext32 import _ewma_step, _uniques_step

    s, stream = events
    makers = {"upsert": _upsert_step, "uniques": _uniques_step, "ewma": _ewma_step}

    def make_step(root):
        steps = [make(f"{root}/{name}") for name, make in makers.items()]

        def step(batch_df, batch_id):
            for one in steps:
                one(batch_df, batch_id)

        return step

    def read(root):
        return (
            [("upsert", *t) for t in _last_version(s, f"{root}/upsert", "v")]
            + [("seen", *t) for t in _last_version(s, f"{root}/uniques", "seen")]
            + [("days", None, *t) for t in _last_version(s, f"{root}/uniques", "days")]
            + [("ewma", *t) for t in _last_version(s, f"{root}/ewma", "v")]
        )

    rows = restart_drill(stream, tmp_path, make_step, read)
    assert [r[1] for r in rows if r[0] == "upsert"] == [0, 1, 2, 3, 7]  # latest per user
    assert sum(r[3] for r in rows if r[0] == "ewma") == 9  # each event counted once


def test_pack_totals_resume_from_their_root(spark, tmp_path):
    from nbi_oedi_etl_spark.workload_banded import _stage_mod3_split
    from nbi_oedi_etl_spark.workload_ext34 import _pack_step

    sf_dir = _write_table(tmp_path, "documents", pa.table({
        "doc_id": pa.array(range(9), pa.int64()),
        "text": [" ".join(["w"] * (300 * i + 1)) for i in range(9)],
        "source": [("web", "code")[i % 2] for i in range(9)],
    }))
    s = spark.newSession()
    stream = (
        s.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_mod3_split(sf_dir, "documents", "doc_id"))
    )
    rows = restart_drill(
        stream, tmp_path, _pack_step,
        lambda r: [tuple(x) for x in s.read.parquet(f"{r}/out").collect()],
    )
    assert len(rows) == 9 and max(r[3] for r in rows) > 0  # sequences cut

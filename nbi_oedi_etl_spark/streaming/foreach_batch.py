"""foreachBatch sinks: the arbitrary-sink escape hatch with exactly-once
discipline (SURVEY.md §2.9 — the reference's uploader, upload.py:16-62, is
an at-least-once PUT loop whose duplicate-safety comes from full-key
overwrite; these are the Spark-native equivalents).

Structured Streaming guarantees foreachBatch is called with each batch_id
AT LEAST once (a crashed batch is retried with the same id), so a sink is
exactly-once iff replaying (batch_id, same data) lands in the same final
state. Two standard shapes:

- ``partitioned_overwrite_sink``: dynamic partition overwrite — a replay
  rewrites exactly the partitions the batch touches with identical bytes.
  Idempotent with no transaction log; the 100 TB pattern for time- or
  key-partitioned continuous ingest (each micro-batch owns whole
  partitions, e.g. event-date).
- ``ledger_append_sink``: append realized as per-BATCH partition
  overwrite (each batch owns ``batch_id=<id>``) plus a batch-id ledger
  marker that skips replayed recomputation. Readers see the data plus a
  ``batch_id`` partition column. The r8 checkpoint drill proved the
  naive plain-append-then-marker shape is NOT exactly-once (a crash
  between commit and marker double-appends on replay), hence this form.

``run_batches`` is the package's one ``foreachBatch`` call: a stream's
checkpoint and outputs share one root, which holds all of its state.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame


def run_batches(
    stream: DataFrame, root: str, step: Callable[[DataFrame, int], None]
) -> None:
    """Drain ``stream`` through ``foreachBatch(step)`` under availableNow,
    checkpointed at ``root/_checkpoint``. A rerun on the same root resumes
    after the last batch the checkpoint committed; a batch that crashed
    is replayed with its own id, so ``step`` must read its prior state
    through ``last_committed`` (never from the closure) and overwrite its
    own ``batch=<id>`` outputs."""
    (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", os.path.join(root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def last_committed(root: str, name: str, batch_id: float, *also: str) -> int | None:
    """The highest ``k < batch_id`` whose ``root/<name>/batch=<k>`` holds a
    ``_SUCCESS`` marker — and so does ``root/<a>/batch=<k>`` for each name
    in ``also`` (a state written as several outputs counts only once all
    of them committed). None before the first commit."""

    def committed(k: int) -> bool:
        paths = (os.path.join(root, n, f"batch={k}", "_SUCCESS") for n in (name, *also))
        return all(os.path.exists(p) for p in paths)

    base = os.path.join(root, name)
    dirs = os.listdir(base) if os.path.isdir(base) else []
    ks = (int(d[6:]) for d in dirs if d.startswith("batch="))
    return max((k for k in ks if k < batch_id and committed(k)), default=None)


def partitioned_overwrite_sink(
    output_dir: str, partition_cols: list[str]
) -> Callable[[DataFrame, int], None]:
    """Idempotent foreachBatch writer: dynamic-mode partition overwrite.

    Replaying a batch overwrites the same partitions with the same rows —
    the final directory state is independent of retries. Partitions NOT
    present in the batch are untouched (dynamic mode), so concurrent
    history stays intact.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(output_dir)
        )

    return write_batch


def ledger_append_sink(
    output_dir: str, ledger_dir: str
) -> Callable[[DataFrame, int], None]:
    """Append-only sink made exactly-once by writing each batch into its
    OWN deterministic partition directory (``batch_id=<id>``, static
    overwrite) plus a batch-id ledger marker written after the commit.

    Why per-batch overwrite instead of a plain ``append``: a crash BETWEEN
    a successful append and the marker write would replay the append —
    plain-append part files get fresh names, nothing shadows the first
    attempt, and the batch lands twice (found by the r8 checkpoint-loss
    drill, tests/test_checkpoint_recovery.py; the pre-r8 docstring's
    shadowing claim was wrong). With a per-batch directory the replay
    OVERWRITES the same path with identical bytes, so the final state is
    independent of where the crash landed; the ledger marker only skips
    recomputation on replay, it no longer carries the correctness burden.

    Reader contract: ``spark.read.parquet(output_dir)`` sees the data
    plus a ``batch_id`` partition column (drop it if unwanted). This is
    the plain-parquet shape of a table-format transactional append
    (Delta/Iceberg commit per batch)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return
        batch_df.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )
        os.makedirs(ledger_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("committed")

    return write_batch

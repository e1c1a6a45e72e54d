"""Long-CDC drill for the packing stream (VERDICT r11 task 2).

``streaming_pack_sequences``'s first draft re-read the accumulated
output every micro-batch, unioned the new rows, and overwrote the full
history — O(corpus-so-far) write volume per batch, O(B²) total over the
stream's life. The fix writes ONLY each batch's rows to a
hive-partitioned ``batch=<id>`` delta and reassembles via
partition-discovery union-on-read, exactly the discipline the banded /
IVF CDC layouts already follow (``tools/banded_cdc_drill.py``).

This drill runs the SAME per-batch packing body
(``workload_ext34.pack_batch``) over ``--batches`` N
deterministic slices (``doc_id % N``) at fact scale and measures the
per-batch write trajectory for both strategies:

- ``delta``  (the shipped path): write batch rows only, then one
  ``compact`` pass every ``COMPACT_EVERY`` batches folds the deltas into
  a single snapshot partition (file-count maintenance, same cadence as
  the banded drill);
- ``rewrite`` (the r11 draft, kept as the control): read previous
  version, union, overwrite everything.

Pass criteria (recorded in the JSON report):
- ``bounded``: delta-strategy bytes written at the LAST batch are within
  ``SLACK``× the FIRST batch's (write volume tracks batch size), while
  the rewrite control's last/first ratio grows ~linearly in batch count;
- ``parity``: union-on-read over the deltas is row-for-row identical
  (checksum) to the one-shot packing of the whole corpus ordered by
  (batch, doc_id) — the drained-union contract the driver oracle pins at
  3 batches, re-proven here at 20;
- ``file_bounded``: with compaction on the stated cadence the live file
  count never exceeds ``COMPACT_EVERY + 1`` snapshots/deltas.

Usage:
    python tools/pack_cdc_drill.py [--batches N] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SCALE_PROBE_SRC", "/root/testdata/sf0.1")
COMPACT_EVERY = 8
SLACK = 3.0  # batch sizes vary ±, and parquet has per-file fixed overhead


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _live_parts(path: str) -> int:
    # snapshots are written as batch=s<k> so discovery keeps ONE
    # partition column (mixed names abort Spark's partition inference)
    return len([d for d in os.listdir(path) if d.startswith("batch=")])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=20)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()
    n = args.batches

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark import get_spark
    from nbi_oedi_etl_spark.workload_ext34 import PACK_TOKENS, pack_batch

    spark = get_spark(app_name="pack-cdc-drill")
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        .where(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
            (F.col("doc_id") % n).alias("batch"),
        )
        .localCheckpoint(eager=True)
    )

    out_cols = ["doc_id", "source", "n_tokens", "seq_id", "offset_in_seq", "seq_span"]

    # ---- strategy 1: per-batch deltas + cadence compaction (shipped) ----
    delta_root = tempfile.mkdtemp(prefix="pack_drill_delta_")
    totals: dict[str, int] = {}
    delta_bytes, delta_secs, batch_rows, live_parts = [], [], [], []
    for k in range(n):
        b = docs.where(F.col("batch") == k).drop("batch")
        t0 = time.monotonic()
        out = pack_batch(b, totals)
        out.write.mode("overwrite").parquet(os.path.join(delta_root, f"batch={k}"))
        delta_secs.append(round(time.monotonic() - t0, 3))
        delta_bytes.append(_dir_bytes(os.path.join(delta_root, f"batch={k}")))
        batch_rows.append(b.count())
        for r in b.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect():
            totals[r["source"]] = totals.get(r["source"], 0) + int(r["t"])
        if (k + 1) % COMPACT_EVERY == 0:
            # fold all live partitions into one snapshot (write-audit-
            # publish style: write aside, then swap) — same maintenance
            # cadence as the banded drill
            snap = spark.read.parquet(delta_root).select(*out_cols)
            tmp = tempfile.mkdtemp(prefix="pack_drill_snap_")
            snap.coalesce(4).write.mode("overwrite").parquet(
                os.path.join(tmp, f"batch=s{k}")
            )
            for d in os.listdir(delta_root):
                shutil.rmtree(os.path.join(delta_root, d))
            shutil.move(
                os.path.join(tmp, f"batch=s{k}"), os.path.join(delta_root, f"batch=s{k}")
            )
        live_parts.append(_live_parts(delta_root))

    # ---- strategy 2: full-history rewrite (the r11 draft, control) ----
    rw_root = tempfile.mkdtemp(prefix="pack_drill_rw_")
    totals2: dict[str, int] = {}
    rw_bytes, rw_secs = [], []
    version = -1
    for k in range(n):
        b = docs.where(F.col("batch") == k).drop("batch")
        t0 = time.monotonic()
        out = pack_batch(b, totals2)
        prev = (
            spark.read.parquet(os.path.join(rw_root, f"v{version}"))
            if version >= 0
            else None
        )
        merged = prev.unionByName(out) if prev is not None else out
        merged.write.mode("overwrite").parquet(os.path.join(rw_root, f"v{k}"))
        rw_secs.append(round(time.monotonic() - t0, 3))
        rw_bytes.append(_dir_bytes(os.path.join(rw_root, f"v{k}")))
        if version >= 0:
            shutil.rmtree(os.path.join(rw_root, f"v{version}"))
        for r in b.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect():
            totals2[r["source"]] = totals2.get(r["source"], 0) + int(r["t"])
        version = k

    # ---- parity: union-on-read == one-shot over (batch, doc_id) order ----
    def checksum(df):
        return (
            df.select(
                F.sum(
                    F.xxhash64(*[F.col(c).cast("string") for c in out_cols]).cast(
                        "decimal(38,0)"
                    )
                ).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
        )

    drained = spark.read.parquet(delta_root).select(*out_cols)
    # one-shot twin computed by an INDEPENDENT plan (plain keyed window
    # over the (batch, doc_id) arrival order), so parity is not the
    # delta path checked against itself
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("batch", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    oneshot = docs.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(cum_before / PACK_TOKENS).alias("seq_id"),
        (cum_before % PACK_TOKENS).alias("offset_in_seq"),
        (
            F.floor((cum_before + F.col("n_tokens") - 1) / PACK_TOKENS)
            - F.floor(cum_before / PACK_TOKENS)
            + 1
        ).alias("seq_span"),
    )
    c_drained, c_oneshot = checksum(drained), checksum(oneshot)
    parity = (c_drained["h"] == c_oneshot["h"]) and (c_drained["n"] == c_oneshot["n"])

    first_real = delta_bytes[0]
    bounded = delta_bytes[-1] <= SLACK * max(1, first_real)
    rewrite_ratio = rw_bytes[-1] / max(1, rw_bytes[0])
    file_bounded = max(live_parts) <= COMPACT_EVERY + 1

    report = {
        "batches": n,
        "compact_every": COMPACT_EVERY,
        "batch_rows": batch_rows,
        "delta_bytes_per_batch": delta_bytes,
        "rewrite_bytes_per_batch": rw_bytes,
        "delta_last_over_first": round(delta_bytes[-1] / max(1, first_real), 3),
        "rewrite_last_over_first": round(rewrite_ratio, 3),
        "delta_total_bytes": sum(delta_bytes),
        "rewrite_total_bytes": sum(rw_bytes),
        "write_amplification_rewrite_over_delta": round(
            sum(rw_bytes) / max(1, sum(delta_bytes)), 3
        ),
        "delta_secs": delta_secs,
        "rewrite_secs": rw_secs,
        "live_parts_trajectory": live_parts,
        "drained_rows": int(c_drained["n"]),
        "bounded": bounded,
        "file_bounded": file_bounded,
        "parity": parity,
        "ok": bool(bounded and file_bounded and parity and rewrite_ratio > n / 4),
    }
    print(json.dumps(report))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=2)
    shutil.rmtree(delta_root, ignore_errors=True)
    shutil.rmtree(rw_root, ignore_errors=True)
    spark.stop()
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())

"""Round-4 extension queries, wave 26: incremental streaming uniques and
greedy submodular corpus selection.

- ``streaming_cumulative_unique_users`` — the cumulative-uniques metric
  maintained INCREMENTALLY through foreachBatch (first-seen state merged
  per micro-batch, versioned commits a restart resumes from); the drained state
  must reproduce the batch ``cumulative_unique_users`` result exactly —
  incremental apply ≡ full recompute, the uniques twin of the CDC
  upsert proof. Shares CUMULATIVE_UNIQUE_ORACLE verbatim.
- ``greedy_coverage_selection`` — submodular data selection: greedily
  pick 3 documents maximizing MARGINAL 3-gram shingle coverage (the
  facility-location/coverage heuristic behind diverse-subset corpus
  curation), each round distributed, ties broken deterministically.
  The oracle unrolls the same 3 greedy rounds in SQL.

Oracle convention identical to workload.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.sources.parquet import read_table
from nbi_oedi_etl_spark.streaming.foreach_batch import last_committed
from nbi_oedi_etl_spark.workload_ext22 import word_trigram_rows

# ------------------------------------- streaming incremental uniques


def _uniques_step(root: str):
    """``streaming_cumulative_unique_users``' step: merge the batch into
    the last version whose ``seen`` AND ``days`` both committed."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        seen = batch_df.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("fday")
        )
        days = batch_df.select(F.to_date("ts").alias("day")).distinct()
        k = last_committed(root, "seen", batch_id, "days")
        if k is not None:
            prev_seen = batch_df.sparkSession.read.parquet(f"{root}/seen/batch={k}")
            seen = (
                prev_seen.unionByName(seen)
                .groupBy("user_id")
                .agg(F.min("fday").alias("fday"))
            )
            prev_days = batch_df.sparkSession.read.parquet(f"{root}/days/batch={k}")
            days = prev_days.unionByName(days).distinct()
        seen.write.mode("overwrite").parquet(f"{root}/seen/batch={batch_id}")
        days.write.mode("overwrite").parquet(f"{root}/days/batch={batch_id}")

    return apply_batch


def streaming_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day, maintained incrementally over
    a 3-micro-batch stream: the foreachBatch state is (user → first-seen
    day) plus the active-day set, merged per batch with min() semantics
    and committed under versioned paths read back from the root, so a
    restart on the same root resumes (the streaming_foreachbatch_upsert
    discipline). The drained state yields
    the per-day new/cumulative counts — which must equal the one-shot
    batch computation over all events (shared oracle).

    Scale: per batch the state is |users| + |days| rows — the bounded
    first-seen reduction, not raw events; the merge is one keyed min.
    """
    from nbi_oedi_etl_spark.workload_banded import drain_event_thirds

    s, root = drain_event_thirds(spark, sf_dir, _uniques_step, "fb_uniq_")
    k = last_committed(root, "seen", math.inf, "days")
    seen = s.read.parquet(f"{root}/seen/batch={k}")
    days = s.read.parquet(f"{root}/days/batch={k}")
    new_per_day = seen.groupBy("fday").agg(F.count(F.lit(1)).alias("new_users"))
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(new_per_day, days.day == new_per_day.fday, "left")
        .select("day", F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"))
        .withColumn("cumulative_users", F.sum("new_users").over(w))
        .select(
            "day",
            F.col("new_users").cast("long").alias("new_users"),
            F.col("cumulative_users").cast("long").alias("cumulative_users"),
        )
    )


# shares ext23.CUMULATIVE_UNIQUE_ORACLE via the spec registration


# ------------------------------------- greedy coverage selection

_K_PICKS = 3


def greedy_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage selection of 3 documents over distinct
    3-gram shingles: each round picks the doc with the largest MARGINAL
    coverage (new shingles not covered by prior picks; ties by doc_id)
    — the (1−1/e)-approximate submodular heuristic behind
    diversity-maximizing corpus subset selection.

    Plan/scale: the shingle table materializes once; each round is one
    anti-join (covered shingles are the BOUNDED broadcast side — at
    most k·max_doc_len rows) + one grouped count + a TakeOrdered(1).
    Rounds are a constant k, the connected-components/BFS iterative
    posture.
    """
    d = read_table(spark, sf_dir, "documents")
    sh = word_trigram_rows(d).distinct().cache()
    covered = None  # DataFrame["s"] of already-covered shingles
    out = []
    for pick_no in range(1, _K_PICKS + 1):
        remaining = (
            sh if covered is None else sh.join(F.broadcast(covered), "s", "left_anti")
        )
        gain = remaining.groupBy("doc_id").agg(F.count(F.lit(1)).alias("gain"))
        top = gain.orderBy(F.desc("gain"), F.asc("doc_id")).limit(1).collect()
        if not top:  # corpus exhausted / empty
            break
        doc, g = top[0]["doc_id"], top[0]["gain"]
        new_cov = sh.filter(F.col("doc_id") == doc).select("s")
        covered = new_cov if covered is None else covered.unionByName(new_cov).distinct()
        covered = covered.cache()
        total = covered.count()
        out.append((pick_no, doc, g, total))
    return spark.createDataFrame(
        out, "pick_no long, doc_id long, marginal_gain long, covered_total long"
    )


GREEDY_COVERAGE_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
  FROM d
), g1 AS (
  SELECT doc_id, count(*) AS gain FROM sh GROUP BY doc_id
), p1 AS (
  SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id ASC LIMIT 1
), cov1 AS (
  SELECT DISTINCT s FROM sh WHERE doc_id = (SELECT doc_id FROM p1)
), g2 AS (
  SELECT doc_id, count(*) AS gain FROM sh
  WHERE s NOT IN (SELECT s FROM cov1)
  GROUP BY doc_id
), p2 AS (
  SELECT doc_id, gain FROM g2 ORDER BY gain DESC, doc_id ASC LIMIT 1
), cov2 AS (
  SELECT s FROM cov1
  UNION
  SELECT s FROM sh WHERE doc_id = (SELECT doc_id FROM p2)
), g3 AS (
  SELECT doc_id, count(*) AS gain FROM sh
  WHERE s NOT IN (SELECT s FROM cov2)
  GROUP BY doc_id
), p3 AS (
  SELECT doc_id, gain FROM g3 ORDER BY gain DESC, doc_id ASC LIMIT 1
), cov3 AS (
  SELECT s FROM cov2
  UNION
  SELECT s FROM sh WHERE doc_id = (SELECT doc_id FROM p3)
)
SELECT 1::BIGINT AS pick_no, doc_id, CAST(gain AS BIGINT) AS marginal_gain,
       (SELECT CAST(count(*) AS BIGINT) FROM cov1) AS covered_total
FROM p1
UNION ALL
SELECT 2, doc_id, CAST(gain AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM cov2)
FROM p2
UNION ALL
SELECT 3, doc_id, CAST(gain AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM cov3)
FROM p3
"""


# ------------------------------------- streaming incremental EWMA


def _ewma_step(root: str):
    """``streaming_ewma_daily``'s step: sum the batch's (event_type, day)
    counts into the last committed rollup, ``root/v/batch=<k>``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        daily = batch_df.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        k = last_committed(root, "v", batch_id)
        if k is not None:
            prev = batch_df.sparkSession.read.parquet(f"{root}/v/batch={k}")
            daily = (
                prev.unionByName(daily)
                .groupBy("event_type", "day")
                .agg(F.sum("cnt").alias("cnt"))
            )
        daily.write.mode("overwrite").parquet(f"{root}/v/batch={batch_id}")

    return apply_batch


def streaming_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The truncated-EWMA anomaly monitor fed by INCREMENTAL state: the
    foreachBatch state is the (event_type, day) count rollup, merged
    per micro-batch by summation (counts are distributive) into the last
    committed version, read back from the root so a restart resumes.
    The drained rollup feeds the identical EWMA arithmetic as the batch
    operator — so the result must equal ``event_type_ewma_daily``
    bit-for-bit (shared oracle).
    The monitoring twin of the CDC/uniques incremental proofs.

    Scale: state is the daily rollup (types × days rows), each batch
    pays |batch| + |state| with a keyed sum merge.
    """
    from nbi_oedi_etl_spark.workload_banded import drain_event_thirds
    from nbi_oedi_etl_spark.workload_ext22 import _EWMA_W

    s, root = drain_event_thirds(spark, sf_dir, _ewma_step, "fb_ewma_")
    k = last_committed(root, "v", math.inf)
    daily = s.read.parquet(f"{root}/v/batch={k}")

    # identical EWMA arithmetic as the batch operator, off drained state
    w_df = s.createDataFrame([(j, w) for j, w in _EWMA_W], "j int, w decimal(18,16)")
    contrib = daily.crossJoin(F.broadcast(w_df)).select(
        "event_type",
        F.date_add(F.col("day"), F.col("j")).alias("tday"),
        (F.col("cnt") * F.col("w")).alias("term"),
        F.col("w"),
    )
    tgt = daily.select("event_type", F.col("day").alias("tday"), F.col("cnt"))
    agg = (
        contrib.join(tgt.select("event_type", "tday"), ["event_type", "tday"])
        .groupBy("event_type", "tday")
        .agg(F.sum("term").alias("num"), F.sum("w").alias("den"))
    )
    ewma = F.col("num").cast("double") / F.col("den").cast("double")
    return (
        agg.join(tgt, ["event_type", "tday"])
        .select(
            "event_type",
            F.col("tday").alias("day"),
            F.col("cnt").cast("long").alias("n_events"),
            F.round(ewma, 6).alias("ewma"),
            F.round(F.col("cnt").cast("double") / ewma, 6).alias("anomaly_ratio"),
        )
    )


# shares ext22.EWMA_ORACLE via the spec registration

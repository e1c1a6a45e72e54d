"""Driver-facing specs for the two-pass-spine skew family
(``operators/skew.py``) — VERDICT r8 task 2.

The three spine operators (sessionize / running sum / RANK) are the
repo's flagship hot-key mitigation: they keep the parallelism unit at
(key, time-bucket) instead of (key), so a 90%-hot entity spreads over
|time-range|/bucket tasks rather than serializing one reducer (measured
3.0–4.15× at 20M rows on one hot key; SCALE.md §window-skew). Until r9
their correctness evidence was local-only (naive-equivalence + hypothesis
property tests in tests/test_quarantine_skew.py); these specs give each
member the same external DuckDB oracle check every other operator got.

Oracles are the NAIVE single-window forms — exactly the equivalence the
local tests pin, but judged by an independent engine:

- sessionize → the classic gaps-and-islands rewrite (lag + flag +
  running count), strict ``gap > timeout`` starts a session, matching
  the operator (ties can never split a session, so both are
  order-stable under tie reordering);
- running sum → ``SUM(...) OVER (... RANGE UNBOUNDED PRECEDING)`` —
  the RANGE frame both forms share (ties share one running value;
  a ROWS frame would be order-dependent and unverifiable);
- rank → plain SQL ``RANK() OVER (PARTITION BY key ORDER BY ts)``
  (tie-stable by definition).

Money-ish doubles are routed through DECIMAL(18,6) so the partial-sum
association the spine introduces (per-bucket totals + prefix) is exact,
then cast back to DOUBLE on BOTH sides for the driver's bit-exact float
compare (the same decimal value casts to the same nearest double in
Spark and DuckDB).

Reference parity: the reference has no skew-mitigated operators (its
engine is single-node asyncio ETL, nbi_oedi_etl/etl/transform_job.py);
this family is the 100 TB posture SURVEY §7.4.9 adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.operators.skew import (
    rank_two_pass_spine,
    running_sum_two_pass_spine,
    sessionize_two_pass_spine,
)
from nbi_oedi_etl_spark.sources.parquet import read_table

_GAP_SECONDS = 1800.0
_BUCKET_SECONDS = 3600.0


def spine_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-timeout (30 min, strict >) sessions over events via
    ``sessionize_two_pass_spine``, summarized one row per session.

    The hot-key shape is native to the fixture: events concentrates many
    rows per user_id (~67 rows/key at sf0.01, same ratio at any SF), so
    every key exercises the within-bucket + spine-stitch path; the
    1-hour bucket splits each user's history across ~weeks of buckets.
    """
    ev = read_table(spark, sf_dir, "events")
    out = sessionize_two_pass_spine(
        ev,
        key_col="user_id",
        ts_col="ts",
        gap_seconds=_GAP_SECONDS,
        bucket_seconds=_BUCKET_SECONDS,
    )
    return out.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


_SPINE_SESSIONS_ORACLE = """
WITH w AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST)
                   > INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM events
), g AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM w
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM g
GROUP BY user_id, session_id
"""


def spine_running_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum of event value by time via
    ``running_sum_two_pass_spine`` (RANGE-frame semantics: tied
    timestamps share one running value), one row per event.

    value → DECIMAL(18,6) before the operator so the bucket-partial +
    prefix association is exact; the final exact decimal casts to DOUBLE
    identically in Spark and DuckDB.
    """
    ev = read_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,6)")
    )
    out = running_sum_two_pass_spine(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value_dec",
        bucket_seconds=_BUCKET_SECONDS,
        out_col="running_value",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("running_value").cast("double").alias("running_value"),
    )


_SPINE_RUNNING_SUM_ORACLE = """
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,6)))
              OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_value
FROM events
"""


def spine_event_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user SQL RANK() by event time via ``rank_two_pass_spine``
    (ties share a rank — the only deterministic numbering without a
    tiebreaker), one row per event."""
    ev = read_table(spark, sf_dir, "events")
    out = rank_two_pass_spine(
        ev,
        key_col="user_id",
        ts_col="ts",
        bucket_seconds=_BUCKET_SECONDS,
        out_col="ts_rank",
    )
    return out.select("event_id", "user_id", "ts_rank")


_SPINE_RANK_ORACLE = """
SELECT event_id, user_id,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) AS BIGINT)
         AS ts_rank
FROM events
"""


def spine_global_running_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL running sum of event value by time via
    ``running_sum_two_pass_spine`` with ``key_col=None`` — SCALE.md's
    "bucket-offset two-pass prefix sum" for the un-keyed window class
    (``Window.orderBy(ts)`` with no partition moves every row through ONE
    task; here the parallelism unit is the time bucket — measured 2.5×
    over the single-task form at 10M rows on 32 cores, and the gap is
    unbounded in data size). Same decimal→double routing as
    ``spine_running_value_sum``.
    """
    ev = read_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,6)")
    )
    out = running_sum_two_pass_spine(
        ev, None, "ts", "value_dec", bucket_seconds=_BUCKET_SECONDS,
        out_col="running_value",
    )
    return out.select(
        "event_id",
        F.col("running_value").cast("double").alias("running_value"),
    )


_SPINE_GLOBAL_RUNNING_SUM_ORACLE = """
SELECT event_id,
       CAST(sum(CAST(value AS DECIMAL(18,6)))
              OVER (ORDER BY ts NULLS FIRST
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_value
FROM events
"""


def spine_global_event_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL SQL RANK() by event time via ``rank_two_pass_spine`` with
    ``key_col=None`` — position in the globally sorted stream without a
    single-task sort (measured 1.7× over the single-task form at 10M rows
    on 32 cores; the naive form's one reducer is the scale wall)."""
    ev = read_table(spark, sf_dir, "events")
    out = rank_two_pass_spine(ev, None, "ts", bucket_seconds=_BUCKET_SECONDS,
                              out_col="ts_rank")
    return out.select("event_id", "ts_rank")


_SPINE_GLOBAL_RANK_ORACLE = """
SELECT event_id,
       CAST(rank() OVER (ORDER BY ts NULLS FIRST) AS BIGINT) AS ts_rank
FROM events
"""

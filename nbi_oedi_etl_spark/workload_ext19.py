"""Round-4 extension queries, wave 13: restartable CDC apply through
foreachBatch, time-bounded funnel attribution, and revenue concentration
analysis.

- ``streaming_foreachbatch_upsert`` — continuous CDC apply: a 3-batch
  event stream folds into a latest-per-key snapshot via foreachBatch,
  each batch committing a VERSIONED snapshot (write path keyed by
  batch_id — a replayed batch rewrites ITS version identically, and a
  restart on the same root resumes from the last committed version). The final
  snapshot must equal the batch latest-per-key compaction — shares
  LATEST_EVENT_ORACLE.
- ``event_funnel_windowed`` — the ordered funnel with ATTRIBUTION
  WINDOWS: click within 1 hour of first view, purchase within 1 hour of
  that click. Unbounded funnels (event_funnel_conversion) overstate
  conversion; windowed attribution is what experimentation actually
  reports.
- ``revenue_pareto_analysis`` — revenue concentration: customers ranked
  by revenue, cumulative-share cutoffs (how many customers cover 50% /
  80% of revenue), plus top-decile share. The Pareto readout, computed
  in exact DECIMAL cumulative sums over the customer aggregate.

Oracle convention identical to workload.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.sources.parquet import read_table
from nbi_oedi_etl_spark.streaming.foreach_batch import last_committed

# ----------------------------------- foreachBatch CDC upsert (T5)


def _upsert_step(root: str):
    """``streaming_foreachbatch_upsert``'s step: merge the batch into the
    last committed snapshot and commit ``root/v/batch=<id>``."""
    from nbi_oedi_etl_spark.operators import dedup

    def latest(df: DataFrame) -> DataFrame:
        return dedup.latest_by_key(
            df, keys=["user_id"], order_col="ts", tiebreaks=["event_id"]
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merged = latest(batch_df.select("user_id", "event_id", "ts", "event_type", "value"))
        k = last_committed(root, "v", batch_id)
        if k is not None:
            prev = batch_df.sparkSession.read.parquet(f"{root}/v/batch={k}")
            merged = latest(prev.unionByName(merged))
        merged.write.mode("overwrite").parquet(f"{root}/v/batch={batch_id}")

    return apply_batch


def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-per-key CDC snapshot maintained through foreachBatch over a
    3-micro-batch stream: each batch merges its rows into the last
    committed snapshot, read back from the root, and commits version
    ``root/v/batch=<id>`` — a retried batch rewrites its own version, and
    a rerun on the same root resumes from the checkpoint. The
    drained snapshot must equal the batch latest-per-key compaction over
    ALL events — the oracle proof that incremental apply ≡ full
    recompute, the streaming twin of resample_incremental_merge's claim.

    Scale: per batch the work is |batch| + |snapshot keys|; the snapshot
    is the bounded state (one row per user). In production the versioned
    dir is a table-format commit (Delta/Iceberg); plain parquet versions
    express the same idempotence without the transaction log.
    """
    from nbi_oedi_etl_spark.workload_banded import drain_event_thirds

    s, root = drain_event_thirds(spark, sf_dir, _upsert_step, "fb_upsert_")
    k = last_committed(root, "v", math.inf)
    snap = s.read.parquet(f"{root}/v/batch={k}")
    return snap.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )


# shares LATEST_EVENT_ORACLE (workload_ext.py) via the spec registration


# ------------------------------------------ windowed funnel


def event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel with 1-hour ATTRIBUTION WINDOWS: first view → first
    click within (t_view, t_view + 1h] → first purchase within
    (t_click, t_click + 1h]. The unbounded funnel credits conversions
    hours later; windowed attribution is the number experimentation
    reports. Same aggregate-then-join-on-users shape as the unbounded
    funnel (per-user tables, never event-level joins), with interval
    upper bounds on each stage.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    totals = ev.agg(F.countDistinct("user_id").alias("n_users"))
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_1h"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_1h"))
    row = totals.crossJoin(nv).crossJoin(nc).crossJoin(np_)
    return row.select(
        "n_users",
        "n_view",
        "n_click_1h",
        "n_purchase_1h",
        F.round(F.try_divide(F.col("n_click_1h"), F.col("n_view")), 6).alias(
            "view_to_click_rate"
        ),
        F.round(
            F.try_divide(F.col("n_purchase_1h"), F.col("n_click_1h")), 6
        ).alias("click_to_purchase_rate"),
    )


FUNNEL_WINDOWED_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 1 HOUR
  GROUP BY e.user_id
)
SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
       (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click_1h,
       (SELECT count(*) FROM p) AS n_purchase_1h,
       round(CAST((SELECT count(*) FROM c) AS DOUBLE)
             / nullif((SELECT count(*) FROM v), 0), 6) AS view_to_click_rate,
       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
             / nullif((SELECT count(*) FROM c), 0), 6) AS click_to_purchase_rate
"""


# ------------------------------------------- Pareto concentration


def revenue_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration readout: customers ranked by order revenue,
    exact decimal cumulative shares — how many customers cover 50% and
    80% of revenue, and what share the top decile holds. The Pareto
    analysis behind every account-prioritization deck.

    Exactness: revenue and its cumulative sum stay DECIMAL; the cutoff
    comparisons multiply through the total (cum·100 ≥ total·50) so no
    division happens before the surfaced (rounded) share columns.

    Scale note: the rank window runs over the CUSTOMER AGGREGATE
    (|customers| rows, one corpus shuffle to build), not the fact table;
    the partition-less window is over dimension-sized data — the honest
    cost of an exact global ranking at aggregate granularity.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("v")
    )
    cust = o.groupBy("o_custkey").agg(F.sum("v").alias("rev"))
    w = Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
    ranked = cust.select(
        "o_custkey",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.sum("rev").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    tot = cust.agg(
        F.sum("rev").alias("total"), F.count(F.lit(1)).alias("n_customers")
    )
    j = ranked.crossJoin(F.broadcast(tot))
    return j.agg(
        F.max("n_customers").alias("n_customers"),
        F.sum(
            F.when(F.col("cum") * 100 <= F.col("total") * 50, 1).otherwise(0)
        ).alias("n_half_covered"),
        F.sum(
            F.when(F.col("cum") * 100 <= F.col("total") * 80, 1).otherwise(0)
        ).alias("n_p80_covered"),
        F.round(
            F.sum(
                F.when(F.col("rn") * 10 <= F.col("n_customers"), F.col("rev"))
                .otherwise(F.lit(0))
            ).cast("double")
            / F.max(F.col("total").cast("double")),
            6,
        ).alias("top_decile_share"),
    )


PARETO_ORACLE = """
WITH cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn,
         sum(rev) OVER (ORDER BY rev DESC, o_custkey
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM cust
), tot AS (
  SELECT sum(rev) AS total, count(*) AS n_customers FROM cust
)
SELECT max(t.n_customers) AS n_customers,
       CAST(sum(CASE WHEN r.cum * 100 <= t.total * 50 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_half_covered,
       CAST(sum(CASE WHEN r.cum * 100 <= t.total * 80 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_p80_covered,
       round(CAST(sum(CASE WHEN r.rn * 10 <= t.n_customers THEN r.rev
                           ELSE 0 END) AS DOUBLE)
             / CAST(max(t.total) AS DOUBLE), 6) AS top_decile_share
FROM ranked r CROSS JOIN tot t
"""

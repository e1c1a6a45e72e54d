"""Round-4 extension queries, wave 23: largest-remainder apportionment,
sweep-line interval concurrency, and time-weighted averaging.

- ``shard_slot_apportionment`` — distribute a fixed integer budget of
  processing slots across brands proportional to revenue using the
  largest-remainder method: the exact-integer allocation op behind
  shard/budget/quota assignment (floor shares + ranked remainders; the
  rounding that always sums to the budget).
- ``max_concurrent_sessions_daily`` — the sweep-line gauge: maximum
  number of simultaneously-open user sessions per day, from +1/−1
  boundary events and a running sum — the interval-concurrency
  operator (capacity planning, connection-pool sizing).
- ``event_value_twap_daily`` — time-weighted average value per day
  (each observation weighted by how long it remained current): the
  TWAP shape of financial/sensor rollups, exact because weights are
  integer seconds and values quantize once.

Oracle convention identical to workload.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.sources.parquet import read_table

# ----------------------------------------- largest-remainder shares

_SLOTS = 1000


def shard_slot_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apportion 1000 slots across part brands proportional to
    lineitem revenue-cents via the largest-remainder (Hamilton) method:
    quota = slots·cents/total, every brand gets ⌊quota⌋, and the
    leftover slots go to the largest fractional remainders (ties by
    brand, deterministic). Σ slots == 1000 EXACTLY — the property
    floats can't give you.

    Exactness: the whole allocation stays in BIGINTs — ⌊quota⌋ is the
    integer quotient (slots·cents) div T (Spark ``div`` / DuckDB ``//``)
    and the remainder ordering uses (slots·cents) mod T; no float enters
    the arithmetic anywhere, so Σ slots == budget holds even where
    slots·cents exceeds 2⁵³ (the 100 TB posture).

    Plan/scale: one brand rollup (broadcast part dim), then
    vocabulary-sized window work on the ~25-row brand table.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    per = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(cents).alias("cents"))
    )
    tot = per.agg(F.sum("cents").alias("total"))
    q = per.crossJoin(F.broadcast(tot)).select(
        "p_brand",
        "cents",
        "total",
        # integer `div`, not floor(double /): past 2^53 the float floor can
        # disagree with the exact quotient and break Σ slots == budget
        F.expr(f"({_SLOTS}L * cents) div total").cast("bigint").alias("base"),
        # exact integer remainder numerator: slots·cents mod total
        ((F.lit(_SLOTS) * F.col("cents")) % F.col("total")).alias("rem_num"),
    )
    leftover = F.lit(_SLOTS) - F.sum("base").over(Window.partitionBy())
    ranked = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rem_num"), F.asc("p_brand")))
        .alias("rnk"),
        leftover.alias("leftover"),
    )
    return ranked.select(
        "p_brand",
        F.round(F.col("cents").cast("double") / F.lit(100.0), 2).alias("revenue"),
        (F.col("base") + (F.col("rnk") <= F.col("leftover")).cast("bigint"))
        .cast("long")
        .alias("slots"),
    )


APPORTIONMENT_ORACLE = f"""
WITH per AS (
  SELECT p_brand,
         CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM per),
q AS (
  SELECT p_brand, cents, total,
         CAST(({_SLOTS} * cents) // total AS BIGINT) AS base,
         ({_SLOTS} * cents) % total AS rem_num
  FROM per CROSS JOIN t
), r AS (
  SELECT *,
         row_number() OVER (ORDER BY rem_num DESC, p_brand ASC) AS rnk,
         {_SLOTS} - sum(base) OVER () AS leftover
  FROM q
)
SELECT p_brand,
       round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS slots
FROM r
"""


# ------------------------------------- sweep-line max concurrency

_GAP_MIN = 30


def max_concurrent_sessions_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum simultaneously-open sessions per day: sessionize events
    (30-minute gap), emit +1 at each session start and −1 at its
    exclusive end (last event + gap), sort the boundary stream, and
    take the per-day max of the running sum — the classic sweep line.

    Tie rule: ends sort BEFORE starts at the same instant (a session
    ending exactly when another starts does not overlap it) — encoded
    as (ts, delta ASC) since −1 < +1, identically in both engines.

    Plan/scale: sessionization is user-keyed window work; the boundary
    stream is 2 rows/session. The running sum is a global ordered
    window over session boundaries — at 100 TB this would use the
    bucket-offset two-pass prefix sum (``skew.running_sum_two_pass_spine``
    with ``key_col=None``) on day buckets; the boundary table here is
    session-scale, orders of magnitude below the corpus.
    """
    ev = read_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _GAP_MIN * 60
    marked = ev.select("user_id", "ts", "event_id").withColumn(
        "new_s",
        (
            F.coalesce(
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(wo)),
                F.lit(gap + 1),
            )
            > gap
        ).cast("int"),
    )
    sess = (
        marked.withColumn(
            "sid", F.sum("new_s").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("start_s"),
            (F.max(F.unix_timestamp("ts")) + gap).alias("end_s"),
        )
    )
    bounds = sess.select(
        F.col("start_s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(sess.select(F.col("end_s").alias("t"), F.lit(-1).alias("delta")))
    wsweep = Window.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
    running = bounds.withColumn("open", F.sum("delta").over(wsweep))
    return (
        running.withColumn("day", F.to_date(F.from_unixtime("t")))
        .groupBy("day")
        .agg(F.max("open").cast("long").alias("max_concurrent"))
    )


CONCURRENCY_ORACLE = f"""
WITH marked AS (
  -- floor(epoch) everywhere: Spark's unix_timestamp is whole-second,
  -- and the gap comparison must see the same integer differences
  SELECT user_id, ts, event_id,
         CASE WHEN coalesce(CAST(floor(epoch(ts)) AS BIGINT)
                    - CAST(floor(epoch(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT),
                {_GAP_MIN * 60 + 1}) > {_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sid AS (
  SELECT user_id, ts, event_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), sess AS (
  SELECT user_id, sid,
         min(CAST(floor(epoch(ts)) AS BIGINT)) AS start_s,
         max(CAST(floor(epoch(ts)) AS BIGINT)) + {_GAP_MIN * 60} AS end_s
  FROM sid GROUP BY user_id, sid
), bounds AS (
  SELECT start_s AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT end_s AS t, -1 AS delta FROM sess
), running AS (
  SELECT t, sum(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING)
           AS open
  FROM bounds
)
SELECT CAST(to_timestamp(t) AS DATE) AS day,
       CAST(max(open) AS BIGINT) AS max_concurrent
FROM running GROUP BY 1
"""


# --------------------------------------------------- TWAP per day


def event_value_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user per DAY, averaged
    across users: each observation holds its value until the user's
    next event that day (the last observation holds to day end) — the
    TWAP rollup of tick-style data, where a plain mean would overweight
    bursts.

    Exactness: hold durations are exact integer seconds; values
    quantize once to 1e-6; per-(user, day) the weighted sum is an exact
    BIGINT·BIGINT → DECIMAL(38,0) accumulation; both final divisions
    run on exact operands and round once.

    Plan/scale: one user-keyed window (lead within day) + two keyed
    aggregates. Nothing global.
    """
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    wd = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    q = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    base = ev.select(
        "user_id", day.alias("day"), F.unix_timestamp("ts").alias("s"), q.alias("q"),
        "ts", "event_id",
    )
    day_end = F.unix_timestamp(F.date_add(F.col("day"), 1).cast("timestamp"))
    held = base.withColumn(
        "hold_s",
        F.coalesce(F.lead("s").over(wd), day_end) - F.col("s"),
    ).filter(F.col("hold_s") > 0)
    per_user_day = held.groupBy("user_id", "day").agg(
        F.sum((F.col("q") * F.col("hold_s")).cast("decimal(38,0)")).alias("wsum"),
        F.sum("hold_s").alias("tsum"),
    )
    twap = F.col("wsum").cast("double") / F.lit(1e6) / F.col("tsum").cast("double")
    # cross-user mean via the exact decimal sum (a double avg would be
    # accumulation-order-dependent), divided once
    per_day = per_user_day.select(
        "day", F.round(twap, 9).cast("decimal(18,9)").alias("twap9")
    ).groupBy("day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(
            F.sum("twap9").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_user_twap"),
    )
    return per_day.select(
        "day",
        F.col("n_users").cast("long").alias("n_users"),
        "mean_user_twap",
    )


TWAP_ORACLE = """
WITH base AS (
  -- floor(epoch) matches Spark's whole-second unix_timestamp on
  -- sub-second event times (ordering still uses full-precision ts)
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS q,
         ts, event_id
  FROM events
), held AS (
  SELECT user_id, day, q,
         coalesce(lead(s) OVER (PARTITION BY user_id, day
                                ORDER BY ts, event_id),
                  CAST(epoch(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))
                       AS BIGINT)) - s AS hold_s
  FROM base
), pud AS (
  SELECT user_id, day,
         sum(CAST(q * hold_s AS DECIMAL(38,0))) AS wsum,
         CAST(sum(hold_s) AS BIGINT) AS tsum
  FROM held WHERE hold_s > 0
  GROUP BY user_id, day
), t AS (
  SELECT day,
         CAST(round(CAST(wsum AS DOUBLE) / 1e6 / CAST(tsum AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS twap9
  FROM pud
)
SELECT day, CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(twap9) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_user_twap
FROM t GROUP BY day
"""

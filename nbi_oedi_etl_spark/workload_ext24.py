"""Round-4 extension queries, wave 18: sliding-window mergeable-sketch
distinct counts, SCD2 validity intervals, and a sort-based skyline.

- ``hll_sliding_weekly_users`` — trailing-7-day distinct users per day
  estimated by MERGING daily HyperLogLog registers (register merge =
  max), shown beside the exact trailing distinct: the whole point of a
  mergeable sketch at 100 TB — per-day register state is m rows, and
  ANY window/rollup over time is a max-merge of state, never a re-scan
  of raw events. Exact-verifiable because the register content is the
  portable md5 hash family (same contract as ``hll_distinct_tokens``).
- ``scd2_user_state_history`` — Type-2 slowly-changing-dimension build
  from the event stream: per-user event_type change tracking with
  [valid_from, valid_to) validity intervals, version numbers, and the
  is_current flag — the warehousing history-table op beside the SCD1
  merge.
- ``part_price_size_skyline`` — Pareto-optimal parts (minimize retail
  price, maximize size) via the SORT-BASED skyline: two window frames
  over the price order replace the quadratic NOT-EXISTS dominance
  scan; the oracle IS that quadratic spec, proving the rewrite.

Oracle convention identical to workload.py. Float determinism: HLL
estimate arithmetic follows the established sorted-fold recipe (the
oracle family of HLL_BY_SOURCE_ORACLE); everything else is integer /
timestamp exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.operators.sketches import hll_registers
from nbi_oedi_etl_spark.sources.parquet import read_table

# ------------------------------------- sliding-window HLL user counts

_M = 64


def hll_sliding_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct-user estimate per active day from merged
    daily HLL registers, with the exact trailing distinct beside it.

    Build: one pass over events → per-(day, register) maxima (m = 64
    rows/day of state). Merge: for each day, max over the trailing 7
    days of each register — a RANGE window on the register table, which
    is |days|×64 rows no matter how many events exist. The raw corpus
    is touched exactly once; every window estimate derives from sketch
    state. The exact-truth column (a 7-day interval join on the deduped
    (day, user) set) exists only to expose the estimation error.

    Exactness: registers are the portable md5 family (cross-engine
    bit-identical); the harmonic-mean fold is the sorted-array recipe
    shared with ``hll_distinct_tokens``; linear counting below 2.5·m
    mirrors the same published branch in both engines.
    """
    ev = read_table(spark, sf_dir, "events")
    toks = ev.select(
        F.to_date("ts").alias("day"), F.col("user_id").cast("string").alias("tok")
    )
    regs = hll_registers(toks, _M, group_cols=("day",))
    days = toks.select("day").distinct()
    jrange = spark.range(_M).withColumnRenamed("id", "j")
    grid = days.crossJoin(F.broadcast(jrange))
    full = (
        grid.join(regs, ["day", "j"], "left")
        .select(
            "day",
            "j",
            F.coalesce("reg", F.lit(0)).alias("reg"),
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("di"),
        )
    )
    wmerge = Window.partitionBy("j").orderBy("di").rangeBetween(-6, 0)
    merged = full.withColumn("mreg", F.max("reg").over(wmerge))
    packed = merged.groupBy("day").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "mreg"))), lambda x: x["mreg"]
        ).alias("regs")
    )
    raw = F.lit(0.709 * _M * _M) / F.aggregate(
        F.transform(F.col("regs"), lambda r: F.pow(F.lit(2.0), -r)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    v_empty = F.size(F.filter(F.col("regs"), lambda x: x == 0))
    est = (
        F.when(
            (raw <= F.lit(2.5 * _M)) & (v_empty > 0),
            F.lit(float(_M)) * F.log(F.lit(float(_M)) / v_empty.cast("double")),
        )
        .otherwise(raw)
    )
    sketch_side = packed.select(
        "day", F.round(est).cast("bigint").alias("hll_weekly_users")
    )
    # exact truth: 7-day interval join over the deduped (day, user) set
    du = toks.distinct()
    truth = (
        days.alias("t")
        .join(
            du.alias("u"),
            (F.col("u.day") <= F.col("t.day"))
            & (F.col("u.day") >= F.date_sub(F.col("t.day"), 6)),
        )
        .groupBy(F.col("t.day").alias("day"))
        .agg(F.countDistinct("u.tok").alias("true_weekly_users"))
    )
    return truth.join(sketch_side, "day").select(
        "day",
        F.col("true_weekly_users").cast("long").alias("true_weekly_users"),
        "hll_weekly_users",
    )


HLL_SLIDING_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS tok
  FROM events
), days AS (
  SELECT DISTINCT day FROM du
), h AS (
  SELECT day, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv FROM du
), r AS (
  SELECT day, hv % 64 AS j,
         CASE WHEN hv // 64 = 0 THEN 55
              ELSE 55 - length(bin(hv // 64)) END AS rho
  FROM h
), regs AS (
  SELECT day, j, max(rho) AS reg FROM r GROUP BY day, j
), grid AS (
  SELECT d.day, g.j, coalesce(regs.reg, 0) AS reg
  FROM days d CROSS JOIN range(64) g(j)
  LEFT JOIN regs ON regs.day = d.day AND regs.j = g.j
), merged AS (
  SELECT day, j,
         max(reg) OVER (PARTITION BY j ORDER BY day
                        RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                              AND CURRENT ROW) AS mreg
  FROM grid
), packed AS (
  SELECT day, list(mreg ORDER BY j) AS rs FROM merged GROUP BY day
), est AS (
  SELECT day,
         0.709 * 64 * 64 / list_sum(list_transform(rs, x -> pow(2.0, -x))) AS raw,
         len(list_filter(rs, x -> x = 0)) AS v_empty
  FROM packed
), truth AS (
  SELECT t.day, count(DISTINCT u.tok) AS true_weekly_users
  FROM days t JOIN du u
    ON u.day <= t.day AND u.day >= t.day - INTERVAL 6 DAY
  GROUP BY t.day
)
SELECT truth.day, CAST(truth.true_weekly_users AS BIGINT) AS true_weekly_users,
       CAST(round(CASE WHEN raw <= 160 AND v_empty > 0
                       THEN 64 * ln(64.0 / v_empty) ELSE raw END)
            AS BIGINT) AS hll_weekly_users
FROM truth JOIN est ON truth.day = est.day
"""


# --------------------------------------------- SCD2 validity intervals


def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build from the event stream: per user, each run of
    consecutive equal event_type values becomes one history row with
    [valid_from, valid_to) interval (valid_to NULL = current), a version
    number, and the is_current flag.

    Plan/scale: both windows are PARTITIONED BY user_id — keyed state,
    no global sort; the corpus collapses to change rows before the
    interval window runs. Ordering is (ts, event_id), a total order, so
    the result is deterministic under equal timestamps.
    """
    ev = read_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(wo))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        chg.withColumn("valid_to", F.lead("ts").over(wc))
        .withColumn("version", F.row_number().over(wc))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("version").cast("long").alias("version"),
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


SCD2_ORACLE = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), runs AS (
  SELECT user_id, event_type, ts, event_id FROM chg
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS version,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM runs
"""


# ------------------------------------------------- sort-based skyline


def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts: no other part is both ≤ price and ≥ size
    with one strict. Sort-based skyline: order by price; a part is
    dominated iff (a) some strictly-cheaper part has size ≥ its size —
    the running max over the cheaper prefix — or (b) a same-price part
    has strictly larger size — the price-group max. Two window frames
    replace the O(|part|²) dominance scan the oracle runs.

    Plan/scale: both windows run on the part DIMENSION (bounded by
    catalog size, not corpus); prices quantize to exact cents so the
    RANGE frame's (-∞, -1) bound is integral. A fact-table skyline
    would bucket by price range first (the un-keyed two-pass spine,
    ``skew.keyed_cumsum_two_pass`` with ``key_col=None``); the dimension
    case needs no partitioning.
    """
    p = read_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    base = p.select(
        "p_partkey", "p_brand", "p_size", cents.alias("cents")
    )
    w_cheaper = Window.orderBy("cents").rangeBetween(Window.unboundedPreceding, -1)
    w_same = Window.partitionBy("cents")
    flagged = base.select(
        "*",
        F.max("p_size").over(w_cheaper).alias("max_size_cheaper"),
        F.max("p_size").over(w_same).alias("max_size_same"),
    )
    dominated = (
        F.coalesce(F.col("max_size_cheaper") >= F.col("p_size"), F.lit(False))
    ) | (F.col("max_size_same") > F.col("p_size"))
    return flagged.filter(~dominated).select(
        "p_partkey",
        "p_brand",
        F.round(F.col("cents").cast("double") / F.lit(100.0), 2).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )


SKYLINE_ORACLE = """
WITH b AS (
  SELECT p_partkey, p_brand, p_size,
         CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM part
)
SELECT p.p_partkey, p.p_brand,
       round(CAST(p.cents AS DOUBLE) / 100.0, 2) AS price,
       CAST(p.p_size AS BIGINT) AS size
FROM b p
WHERE NOT EXISTS (
  SELECT 1 FROM b q
  WHERE q.cents <= p.cents AND q.p_size >= p.p_size
    AND (q.cents < p.cents OR q.p_size > p.p_size)
)
"""

"""Round-4 extension queries, wave 27: weighted order statistics and
cross-source quantile normalization.

- ``weighted_median_price`` — the quantity-weighted median of extended
  price (each row counts with its quantity as mass): the weighted
  order statistic, found on the same distributed two-pass rank spine
  but with WEIGHT prefix sums instead of row counts.
- ``source_quantile_normalize`` — batch-effect correction: each
  source's n_chars distribution is mapped onto the GLOBAL distribution
  by rank (value → within-source relative rank → global order
  statistic at that rank) — the quantile-normalization op that makes
  heterogeneous ingest sources comparable.

Oracle convention identical to workload.py; all rank and weight
arithmetic exact integers, with a single shared rounding expression
where a relative rank must scale to the global index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.sources.parquet import read_table

# -------------------------------------------------- weighted median


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted LOWER median of l_extendedprice: the smallest
    value v whose cumulative quantity mass reaches half the total
    (2·cumw ≥ W, exact integers — no /2 rounding ambiguity), plus the
    unweighted median beside it for contrast.

    Plan/scale: value groups carry (Σ quantity-mass, row count); both
    medians come off ONE two-pass weight/count prefix-sum spine (coarse
    value buckets → bounded offset table → bucket window) — never a
    global sort. The probes are 1-row filters on the rank table.

    Exactness: quantity quantizes to the 1e-2 grid; prices to cents;
    the crossing conditions are pure BIGINT comparisons.
    """
    li = read_table(spark, sf_dir, "lineitem")
    v = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    w = F.floor(F.col("l_quantity") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    grp = li.select(v.alias("v"), w.alias("w")).groupBy("v").agg(
        F.sum("w").alias("wsum"), F.count(F.lit(1)).alias("cnt")
    )
    grp = grp.withColumn("bucket", F.shiftright(F.col("v"), 20))
    btot = grp.groupBy("bucket").agg(
        F.sum("wsum").alias("bw"), F.sum("cnt").alias("bc")
    )
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("bw").over(woff), F.lit(0)).alias("woff"),
        F.coalesce(F.sum("bc").over(woff), F.lit(0)).alias("coff"),
    )
    win = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = (
        grp.join(F.broadcast(offsets), "bucket")
        .withColumn("wlo", F.col("woff") + F.coalesce(F.sum("wsum").over(win), F.lit(0)))
        .withColumn("whi", F.col("wlo") + F.col("wsum"))
        .withColumn("clo", F.col("coff") + F.coalesce(F.sum("cnt").over(win), F.lit(0)))
        .withColumn("chi", F.col("clo") + F.col("cnt"))
        .cache()
    )
    tot = ranked.agg(F.sum("wsum").alias("tw"), F.sum("cnt").alias("tc")).collect()[0]
    total_w, total_c = tot["tw"], tot["tc"]
    if not total_c:
        return spark.createDataFrame(
            [], "weighted_median double, unweighted_median double, total_mass double"
        )
    # lower weighted median: first group whose cumulative mass crosses W/2
    wmed = (
        ranked.filter((2 * F.col("wlo") < total_w) & (2 * F.col("whi") >= total_w))
        .select("v")
        .collect()[0][0]
    )
    cmed_rank = (total_c + 1) // 2
    cmed = (
        ranked.filter((F.col("clo") < cmed_rank) & (F.col("chi") >= cmed_rank))
        .select("v")
        .collect()[0][0]
    )
    return spark.createDataFrame(
        [
            (
                wmed / 100.0,
                cmed / 100.0,
                round(total_w / 100.0, 2),
            )
        ],
        "weighted_median double, unweighted_median double, total_mass double",
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH g AS (
  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS wsum,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
), r AS (
  SELECT v, wsum, cnt,
         coalesce(sum(wsum) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS wlo,
         coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS clo
  FROM g
), t AS (
  SELECT CAST(sum(wsum) AS BIGINT) AS tw, CAST(sum(cnt) AS BIGINT) AS tc FROM g
)
SELECT
  (SELECT CAST(v AS DOUBLE) / 100.0 FROM r, t
    WHERE 2 * wlo < t.tw AND 2 * (wlo + wsum) >= t.tw) AS weighted_median,
  (SELECT CAST(v AS DOUBLE) / 100.0 FROM r, t
    WHERE clo < (t.tc + 1) // 2 AND clo + cnt >= (t.tc + 1) // 2)
      AS unweighted_median,
  (SELECT round(CAST(tw AS DOUBLE) / 100.0, 2) FROM t) AS total_mass
"""


# ------------------------------------------ quantile normalization


def source_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across ingest sources:
    each doc's n_chars is replaced by the GLOBAL order statistic at its
    within-source relative rank — after which every source has (up to
    grid effects) the same length distribution. The batch-effect
    correction of multi-source corpus assembly.

    Rank mapping: within-source rank r of n (ties by doc_id, a total
    order) → relative position p = (r−1)/(n_s−1) → global index
    g = ⌊p·(N−1) + 0.5⌋ + 1 → global order statistic #g (same tie
    order). Both engines evaluate the identical double expression on
    exact integer ranks.

    Plan/scale (r11, the acknowledged wart closed): both rank tables
    now route through the skew machinery — ``row_number`` over a unique
    order is a cumsum of 1s, so the within-source ranks dispatch via
    ``skew.keyed_cumsum`` (naive keyed window below the measured ~1M
    rows/key crossover — the test-SF plan — two-pass spine bucketed by
    ``floor(n_chars/64)`` above it) and the global rank table via
    ``skew.keyed_cumsum`` with ``key_col=None`` (direct window below the
    crossover, the bucket-spine form above — no single-task sort at fact
    scale).
    Output is per (source, normalized decile) to keep the result
    bounded rather than per-row.
    """
    from nbi_oedi_etl_spark.operators.skew import keyed_cumsum

    d = read_table(spark, sf_dir, "documents")
    n_tot = d.count()
    if n_tot == 0:
        return spark.createDataFrame(
            [], "source string, decile long, n_docs long, mean_norm_chars double"
        )
    nchars_bucket = F.floor(F.col("n_chars") / 64)
    ns = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    ranked_s = keyed_cumsum(
        d.select("doc_id", "source", "n_chars").withColumn("one", F.lit(1)),
        "source", ["n_chars", "doc_id"], nchars_bucket, "one",
        out_col="r", include_current=True,
    ).drop("one").join(F.broadcast(ns), "source")
    p = F.when(F.col("n_s") > 1, (F.col("r") - 1).cast("double") / (F.col("n_s") - 1).cast("double")).otherwise(F.lit(0.0))
    gidx = (F.floor(p * F.lit(float(n_tot - 1)) + F.lit(0.5)) + 1).cast("bigint")
    glob = keyed_cumsum(
        d.select("doc_id", "n_chars").withColumn("one", F.lit(1)),
        None, ["n_chars", "doc_id"], nchars_bucket, "one",
        out_col="g", include_current=True, max_rows_per_key=n_tot,
    ).select(F.col("g").cast("bigint").alias("g"), F.col("n_chars").alias("norm_chars"))
    mapped = ranked_s.withColumn("g", gidx).join(glob, "g")
    # decile of the normalized value's relative rank — bounded output
    decile = F.least(F.lit(9), F.floor(p * 10)).cast("bigint")
    return (
        mapped.groupBy("source", decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("norm_chars").cast("double")), 6).alias(
                "mean_norm_chars"
            ),
        )
        .select(
            "source",
            "decile",
            F.col("n_docs").cast("long").alias("n_docs"),
            "mean_norm_chars",
        )
    )


QUANTILE_NORMALIZE_ORACLE = """
WITH n AS (SELECT count(*) AS tot FROM documents),
ranked_s AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n_s
  FROM documents
), gtab AS (
  SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS g,
         n_chars AS norm_chars
  FROM documents
), mapped AS (
  SELECT s.source,
         CASE WHEN s.n_s > 1
              THEN CAST(s.r - 1 AS DOUBLE) / CAST(s.n_s - 1 AS DOUBLE)
              ELSE 0.0 END AS p,
         gl.norm_chars
  FROM ranked_s s
  CROSS JOIN n
  JOIN gtab gl
    ON gl.g = CAST(floor((CASE WHEN s.n_s > 1
              THEN CAST(s.r - 1 AS DOUBLE) / CAST(s.n_s - 1 AS DOUBLE)
              ELSE 0.0 END) * CAST(n.tot - 1 AS DOUBLE) + 0.5) AS BIGINT) + 1
)
SELECT source,
       CAST(least(9, CAST(floor(p * 10) AS BIGINT)) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CAST(norm_chars AS DOUBLE)), 6) AS mean_norm_chars
FROM mapped GROUP BY 1, 2
"""

"""Round-4 extension queries, wave 15: market-basket association rules,
tie-aware ROC AUC over the batch classifier, and a Benford first-digit
conformance audit.

- ``brand_basket_rules`` — association-rule mining (support /
  confidence / lift) over order baskets of part brands: the classic
  co-occurrence surface (recommendations, taxonomy audits) expressed as
  a per-key bounded self-join, never an all-pairs product.
- ``classifier_roc_auc`` — threshold-free evaluation of the wave-14
  quality classifier: Mann-Whitney rank-sum AUC with exact average-rank
  tie handling, ranked by a DISTRIBUTED two-pass prefix sum (bucket
  offsets + within-bucket window) instead of a single-partition global
  sort.
- ``benford_first_digit`` — Benford's-law conformance of order totals:
  first-significant-digit histogram vs the log10(1+1/d) expectation
  with per-digit chi-square contributions — the numeric-forgery /
  synthetic-data smell test beside the categorical chi-square.

Oracle convention identical to workload.py. Float determinism: every
double is derived from exact integer counts/sums by the identical
arithmetic expression in both engines; the only transcendental
(log10) is pre-evaluated into shared DECIMAL literals at authoring
time, so no libm call differs between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.sources.parquet import read_table
from nbi_oedi_etl_spark.workload_ext20 import _weight_expr

# ------------------------------------------- market-basket association


def brand_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: items are the DISTINCT part
    brands in each order (lineitem ⋈ broadcast part). For every brand
    pair (a < b) co-occurring in ≥ 5 baskets: support = pairs/N,
    confidence in both directions, and lift = pairs·N/(cnt_a·cnt_b).

    Plan/scale: part is a broadcast dim; the pair generator is a
    self-equi-join of the deduped (orderkey, brand) set ON orderkey —
    fan-out is C(basket_brands, 2) per order (baskets are small by
    construction), never corpus×corpus. Brand marginals are a bounded
    25-row table, broadcast back onto the pair counts. The only corpus
    shuffles are the distinct and the orderkey-keyed join, both on the
    natural key.

    Exactness: all counts are exact BIGINTs; support/confidence/lift
    are single double divisions of identical integer products in both
    engines, rounded once to 6.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    # the deduped basket set feeds four consumers (N count, marginals,
    # both pair-join sides) — materialize once
    basket = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .cache()
    )
    n_baskets = basket.select("okey").distinct().count()
    brand_cnt = basket.groupBy("brand").agg(F.count(F.lit(1)).alias("cnt"))
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 5)
    )
    ca = brand_cnt.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))
    cb = brand_cnt.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "pair_cnt",
            F.round(F.col("pair_cnt").cast("double") / F.lit(float(n_baskets)), 6).alias(
                "support"
            ),
            F.round(F.col("pair_cnt").cast("double") / F.col("cnt_a").cast("double"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("pair_cnt").cast("double") / F.col("cnt_b").cast("double"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                (F.col("pair_cnt") * F.lit(n_baskets)).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


BASKET_RULES_ORACLE = """
WITH basket AS (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (
  SELECT count(DISTINCT okey) AS nb FROM basket
), bc AS (
  SELECT brand, count(*) AS cnt FROM basket GROUP BY brand
), pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS pair_cnt
  FROM basket a JOIN basket b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT brand_a, brand_b, CAST(pair_cnt AS BIGINT) AS pair_cnt,
       round(CAST(pair_cnt AS DOUBLE) / CAST(n.nb AS DOUBLE), 6) AS support,
       round(CAST(pair_cnt AS DOUBLE) / CAST(ca.cnt AS DOUBLE), 6) AS conf_a_to_b,
       round(CAST(pair_cnt AS DOUBLE) / CAST(cb.cnt AS DOUBLE), 6) AS conf_b_to_a,
       round(CAST(pair_cnt * n.nb AS DOUBLE) / CAST(ca.cnt * cb.cnt AS DOUBLE), 6)
         AS lift
FROM pairs
JOIN bc ca ON ca.brand = pairs.brand_a
JOIN bc cb ON cb.brand = pairs.brand_b
CROSS JOIN n
"""


# --------------------------------------------------- tie-aware ROC AUC


def classifier_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney ROC AUC of the wave-14 linear classifier against the
    binary target label ≥ 5, with exact average-rank tie handling:
    AUC = (Σ_pos 2·avgrank − n_pos(n_pos+1)) / (2·n_pos·n_neg), every
    term an exact integer until the single final division.

    Ranking is DISTRIBUTED: scores (ranked by the exact quantized-logit
    BIGINT ``k``, order-identical to sigmoid(k)) group per distinct
    value, coarse-bucket by k div 10⁷ (floor of a monotone double
    division — bucket boundaries need only monotonicity, which IEEE
    division + floor preserves), the bounded bucket-total table gets its
    offsets on one partition, and the per-value cumulative count is a
    window PARTITIONED BY bucket — the same two-pass prefix-sum shape as
    the un-keyed ``skew.keyed_cumsum_two_pass`` (``key_col=None``), no
    single-partition sort of the corpus.

    Exactness: avgrank ties are handled as 2·avgrank = 2·C + n + 1
    (C = count of strictly-smaller values, n = tie-group size), keeping
    the rank sum integral; the oracle derives the identical quantity
    from rank() + per-value counts.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    w = _weight_expr(F.col("i"))
    q = F.floor(F.col("x") * w * F.lit(1000000000.0) + F.lit(0.5)).cast("bigint")
    scored = dims.groupBy("vec_id", "label").agg(F.sum(q).alias("k"))
    scored = scored.select("k", (F.col("label") >= 5).cast("int").alias("pos"))

    grp = scored.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("npos")
    )
    grp = grp.withColumn(
        "bucket", F.floor(F.col("k").cast("double") / F.lit(10000000.0)).cast("bigint")
    )
    btot = grp.groupBy("bucket").agg(F.sum("n").alias("bn"))
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "bucket", F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("boff")
    )
    win = Window.partitionBy("bucket").orderBy("k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = (
        grp.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_in_bucket", F.coalesce(F.sum("n").over(win), F.lit(0)))
        .withColumn("c_before", F.col("boff") + F.col("cum_in_bucket"))
    )
    sums = ranked.agg(
        F.sum(F.col("npos") * (2 * F.col("c_before") + F.col("n") + 1)).alias("s2"),
        F.sum("npos").alias("np"),
        F.sum(F.col("n") - F.col("npos")).alias("nn"),
    )
    # nullif: a single-class corpus (np·nn = 0) has no ranking to score —
    # AUC is undefined (NULL), not a DIVIDE_BY_ZERO abort
    auc = (F.col("s2") - F.col("np") * (F.col("np") + 1)).cast("double") / F.nullif(
        (2 * F.col("np") * F.col("nn")).cast("double"), F.lit(0.0)
    )
    return sums.select(
        F.round(auc, 6).alias("auc"),
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
    )


ROC_AUC_ORACLE = """
WITH dims AS (
  SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS i,
         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
  FROM (SELECT vec_id, label, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
), wdims AS (
  SELECT vec_id, label, x,
         CAST(('0x' || substring(md5('w|' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
              AS DOUBLE) / 1152921504606846976.0 - 0.5 AS w
  FROM dims
), scored AS (
  SELECT vec_id, CAST(label >= 5 AS INTEGER) AS pos,
         CAST(sum(CAST(floor(x * w * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS k
  FROM wdims GROUP BY vec_id, label
), ranked AS (
  SELECT pos,
         2 * rank() OVER (ORDER BY k)
           + count(*) OVER (PARTITION BY k) - 1 AS avg2
  FROM scored
), s AS (
  SELECT CAST(sum(CASE WHEN pos = 1 THEN avg2 ELSE 0 END) AS BIGINT) AS s2,
         CAST(sum(pos) AS BIGINT) AS np,
         CAST(sum(1 - pos) AS BIGINT) AS nn
  FROM ranked
)
SELECT round(CAST(s2 - np * (np + 1) AS DOUBLE)
             / nullif(CAST(2 * np * nn AS DOUBLE), 0.0), 6) AS auc,
       np AS n_pos, nn AS n_neg
FROM s
"""


# ------------------------------------------------ Benford digit audit

# log10(1 + 1/d), pre-evaluated to 10 decimals so neither engine calls
# a transcendental — the shared literal IS the expectation.
_BENFORD_P = [
    (1, "0.3010299957"),
    (2, "0.1760912591"),
    (3, "0.1249387366"),
    (4, "0.0969100130"),
    (5, "0.0791812460"),
    (6, "0.0669467896"),
    (7, "0.0579919470"),
    (8, "0.0511525224"),
    (9, "0.0457574906"),
]


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-significant-
    digit counts vs the log10(1+1/d) expectation, with each digit's
    chi-square contribution — the standard screen for fabricated or
    synthetically-generated numeric columns.

    The first digit comes from the decimal's canonical string form
    (exact; no float log10 on the data path), and the expectation is a
    shared DECIMAL literal table. Digits with zero observations still
    appear (right join against the 9-row literal frame).

    Plan/scale: map-only digit extraction, one 9-bucket aggregate,
    broadcast of the constant table. Nothing else moves.

    Exactness: obs is an exact count; expected = n·p and the chi-square
    term are the same double expression of (exact count, exact literal)
    in both engines, rounded once to 6.
    """
    from decimal import Decimal

    exp_df = spark.createDataFrame(
        [(d, Decimal(p)) for d, p in _BENFORD_P], "digit int, p decimal(12,10)"
    )
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    n_total = o.count()
    obs = (
        o.select(F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    expected = F.lit(float(n_total)) * F.col("p").cast("double")
    # try_divide: on a 0-row corpus expected = 0 and the term is NULL —
    # the same NULL DuckDB produces for x/0, so the engines agree on the
    # degenerate input too.
    term = F.try_divide(
        (F.col("obs").cast("double") - expected)
        * (F.col("obs").cast("double") - expected),
        expected,
    )
    return (
        obs.join(F.broadcast(exp_df), "digit", "right")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .select(
            "digit",
            F.col("obs").cast("long").alias("obs"),
            F.col("p").cast("double").alias("benford_p"),
            F.round(expected, 6).alias("expected"),
            F.round(term, 6).alias("chi2_term"),
        )
    )


BENFORD_ORACLE = """
WITH p(digit, p) AS (
  VALUES (1, CAST('0.3010299957' AS DECIMAL(12,10))),
         (2, CAST('0.1760912591' AS DECIMAL(12,10))),
         (3, CAST('0.1249387366' AS DECIMAL(12,10))),
         (4, CAST('0.0969100130' AS DECIMAL(12,10))),
         (5, CAST('0.0791812460' AS DECIMAL(12,10))),
         (6, CAST('0.0669467896' AS DECIMAL(12,10))),
         (7, CAST('0.0579919470' AS DECIMAL(12,10))),
         (8, CAST('0.0511525224' AS DECIMAL(12,10))),
         (9, CAST('0.0457574906' AS DECIMAL(12,10)))
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS total FROM orders WHERE o_totalprice >= 1
), obs AS (
  SELECT CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*) AS o
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
)
SELECT p.digit AS digit,
       CAST(coalesce(obs.o, 0) AS BIGINT) AS obs,
       CAST(p.p AS DOUBLE) AS benford_p,
       round(CAST(n.total AS DOUBLE) * CAST(p.p AS DOUBLE), 6) AS expected,
       round((CAST(coalesce(obs.o, 0) AS DOUBLE)
                - CAST(n.total AS DOUBLE) * CAST(p.p AS DOUBLE))
             * (CAST(coalesce(obs.o, 0) AS DOUBLE)
                - CAST(n.total AS DOUBLE) * CAST(p.p AS DOUBLE))
             / (CAST(n.total AS DOUBLE) * CAST(p.p AS DOUBLE)), 6) AS chi2_term
FROM p LEFT JOIN obs ON obs.digit = p.digit
CROSS JOIN n
"""

"""The engine's declared query workload: every operator from SURVEY.md §2
(implemented rows + §2.12 extensions) as a named (Spark builder, oracle SQL)
pair. ``__spark_entry__.py`` re-exports this registry to the driver.

Cross-engine determinism rules used throughout (so value-hashes match):

- **Decimal-sum trick**: large double sums are order-dependent in floating
  point (Spark sums in partition order, DuckDB sequentially). Summing
  ``CAST(x AS DECIMAL)`` is exact and order-independent in BOTH engines;
  casting the exact decimal result back to double is deterministic. Averages
  are written explicitly as decimal-sum / count.
- Small-group averages (bounded accumulation error ≪ 1e-6) are rounded to 6
  decimals on both sides.
- All timestamps stay TIMESTAMP_NTZ end-to-end (no session-timezone
  dependence); ``events.ts`` ns→µs truncation matches DuckDB's.
- Spark INT vs DuckDB BIGINT: oracle casts count-like ints to match Spark's
  output types (row_number → INTEGER, size/length → INTEGER).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.operators import (
    asof,
    dedup,
    multimodal,
    reconcile,
    sessions,
    similarity,
    skew,
    text,
)
from nbi_oedi_etl_spark.operators import queries as qops
from nbi_oedi_etl_spark.operators.resample import resample_hourly
from nbi_oedi_etl_spark.functions.scalars import upgrade_str
from nbi_oedi_etl_spark.sources import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


def _dec_sum(col: str | F.Column, alias: str, scale: str = "decimal(18,2)") -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double").alias(alias)


# ---------------------------------------------------------------- flagship

def flagship_hourly_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the reference ETL's hourly resample, on the events table.

    Reference: etl/oedi_etl/transform.py:19-122 (15-min → 1-h group-by with
    min on keys, mean on measures, ``_min``/``_mean`` naming per
    sql/saved-queries.sql:14). Entity key user_id plays bldg_id
    (SURVEY.md §7.4.2 distributed grouping).
    """
    events = read_table(spark, sf_dir, "events")
    return resample_hourly(
        events,
        ts_col="ts",
        entity_cols=("user_id",),
        min_cols=("event_id", "ts"),
        mean_cols=("value",),
        hour_col="ts_hour",
        round_means=6,
    )


_FLAGSHIP_ORACLE = """
SELECT min(event_id) AS event_id_min,
       min(ts) AS ts_min,
       round(avg(value), 6) AS value_mean,
       user_id,
       date_trunc('hour', ts) AS ts_hour
FROM events
GROUP BY user_id, date_trunc('hour', ts)
"""


# ------------------------------------------------- reference saved queries

def ref_q1_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (saved-queries.sql:12-17): dim⋈fact + equality filters + global
    COUNT(DISTINCT). customer/orders stand in for metadata/hourly-data
    (FIXTURES.md F3)."""
    return qops.count_distinct_joined(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        "c_custkey",
        "o_custkey",
        filters={"c_mktsegment": "BUILDING", "c_nationkey": 5},
        out_name="total_customers",
    )


_Q1_ORACLE = """
SELECT count(DISTINCT c.c_custkey) AS total_customers
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'BUILDING' AND c.c_nationkey = 5
"""


def ref_q1_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate variant of Q1 (separately named so exact/approx semantics
    never mix — SURVEY.md §7.4.5). Rows-only check (HLL estimate is
    engine-specific)."""
    return qops.count_distinct_joined(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        "c_custkey",
        "o_custkey",
        filters={"c_mktsegment": "BUILDING", "c_nationkey": 5},
        out_name="total_customers_approx",
        approximate=True,
    )


def ref_q2_grouped_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (saved-queries.sql:20-26): join + grouped COUNT(DISTINCT)."""
    return qops.grouped_count_distinct_joined(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        "c_custkey",
        "o_custkey",
        group_col="c_mktsegment",
        out_name="total_customers",
    )


_Q2_ORACLE = """
SELECT c.c_mktsegment, count(DISTINCT c.c_custkey) AS total_customers
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


def ref_q3_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 (saved-queries.sql:29-45): DISTINCT → ROW_NUMBER per group →
    rn <= k + group filter."""
    return qops.topk_per_group_joined(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        "c_custkey",
        "o_custkey",
        group_col="c_mktsegment",
        k=100,
        group_value="BUILDING",
    )


_Q3_ORACLE = """
WITH joined AS (
  SELECT DISTINCT c.c_custkey, c.c_mktsegment
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
)
SELECT c_custkey, c_mktsegment, rn FROM (
  SELECT c_custkey, c_mktsegment,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey)
              AS INTEGER) AS rn
  FROM joined
) t
WHERE c_mktsegment = 'BUILDING' AND rn <= 100
"""


# ------------------------------------------------------ general SQL surface

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation (the engine's headline scan+agg): filter →
    group → sum/avg/count. Decimal-sum trick for cross-engine exactness."""
    li = read_table(spark, sf_dir, "lineitem")
    filtered = li.where(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
    n = F.count(F.lit(1))
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            # price(2dec) × (1−discount(2dec)) is EXACTLY a 4-decimal value;
            # casting the double product to decimal(18,4) recovers the true
            # value in both engines (a finer scale like (28,10) is NOT
            # cross-engine stable: ulp of the scaled double exceeds the
            # rounding granularity).
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "sum_disc_price",
                "decimal(18,4)",
            ),
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double") / n).alias(
                "avg_qty"
            ),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / n
            ).alias("avg_price"),
            n.alias("count_order"),
        )
    )


_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit → TakeOrderedAndProject (per-partition top-n,
    single-reduce merge; no cluster-wide sort)."""
    orders = read_table(spark, sf_dir, "orders")
    return qops.top_n_global(
        orders,
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        10,
        cols=("o_orderkey", "o_custkey", "o_totalprice"),
    )


_TOPK_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY.md §2.4 'not present in reference' —
    exposed as engine built-in)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dec_sum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_rows")
    )


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + grouped count (zero-order customers included)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"], c["c_mktsegment"])
        .agg(F.count(o["o_orderkey"]).alias("order_cnt"))
    )


_OUTER_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS order_cnt
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
"""


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers having at least one order."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


def anti_join_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 (monitor.py:87-106): listed − uploaded as LEFT ANTI join — the
    reference's discrepancy report ('Listed but not Uploaded',
    README.md:352-361). orders plays the listed set; a simulated uploader
    that drops every 97th key plays the uploaded set, so the report is
    non-empty and deterministic."""
    o = read_table(spark, sf_dir, "orders")
    listed = o.select("o_orderkey")
    uploaded = o.where(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("up_orderkey")
    )
    return reconcile.discrepancies(listed, uploaded, "o_orderkey", "up_orderkey").select(
        "o_orderkey"
    )


_ANTI_ORACLE = """
SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
"""


def distinct_user_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (saved-queries.sql:30,41-42): SELECT DISTINCT column subset."""
    return qops.distinct_rows(read_table(spark, sf_dir, "events"), ["user_id", "event_type"])


_DISTINCT_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"


def upgrade_code_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (fetch.py:19-37): upgrade-code formatter as a column expression."""
    return read_table(spark, sf_dir, "nation").select(
        "n_nationkey", upgrade_str("n_nationkey").alias("upgrade_name")
    )


_UPGRADE_ORACLE = """
SELECT n_nationkey,
       CASE WHEN n_nationkey = 0 THEN 'baseline'
            WHEN n_nationkey < 10 THEN 'upgrade0' || CAST(n_nationkey AS VARCHAR)
            ELSE 'upgrade' || CAST(n_nationkey AS VARCHAR) END AS upgrade_name
FROM nation
"""


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column function surface (SURVEY.md §2.8): get_json_object over
    events.props, grouped stats. Integer sums are exact → avg deterministic."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k")
    return (
        ev.select("event_type", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("k_mean"),
            F.max("k").alias("k_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_JSON_ORACLE = """
SELECT event_type, round(avg(k), 6) AS k_mean, max(k) AS k_max, count(*) AS n
FROM (SELECT event_type,
             CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
      FROM events) t
GROUP BY event_type
"""


# ------------------------------------------------------------- text analysis

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.with_token_stats(read_table(spark, sf_dir, "documents"))


_TOKEN_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_actual,
       round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
             / len(regexp_split_to_array(trim(text), '\s+')), 6) AS mean_token_len
FROM documents
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.with_quality_score(read_table(spark, sf_dir, "documents"))


_QUALITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars_actual,
         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS INTEGER) AS alpha,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, n_chars_actual, alpha,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a'))) AS INTEGER) AS stop
  FROM t
)
SELECT doc_id, n_chars_actual, n_tokens,
       round(alpha * 1.0 / n_chars_actual, 6) AS alpha_ratio,
       round(stop * 1.0 / n_tokens, 6) AS stopword_ratio,
       round((alpha * 1.0 / n_chars_actual) * 0.5
             + (stop * 1.0 / n_tokens) * 0.5, 6) AS quality_score
FROM s
"""


def doc_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.with_lang_guess(read_table(spark, sf_dir, "documents"))


_LANG_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), h AS (
  SELECT doc_id,
    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a'))) AS INTEGER) AS hits_en,
    CAST(len(list_filter(toks, x -> x IN ('der','und','die','das','ist'))) AS INTEGER) AS hits_de,
    CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','los'))) AS INTEGER) AS hits_es,
    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS INTEGER) AS hits_fr
  FROM t
)
SELECT doc_id, hits_en, hits_de, hits_es, hits_fr,
       CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
            WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
            WHEN hits_es >= hits_fr THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM h
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.with_fingerprint(read_table(spark, sf_dir, "documents"))


_FINGERPRINT_ORACLE = r"""
SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# ------------------------------------------------------------------- dedup

def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: content hash → canonical id + dup count."""
    return dedup.exact_dedup_groups(read_table(spark, sf_dir, "documents"))


_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
       count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def ngram_jaccard_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over a bounded pair set (doc_id < 30 all-pairs) —
    the verification stage of the near-dup pipeline, oracle-checkable."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    ids = docs.select(F.col("doc_id").alias("doc_id_a"))
    ids2 = docs.select(F.col("doc_id").alias("doc_id_b"))
    pairs = ids.crossJoin(ids2).where(F.col("doc_id_a") < F.col("doc_id_b"))
    return dedup.ngram_jaccard(docs, pairs)


_NGRAM_JACCARD_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE doc_id < 30
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
  FROM d
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
"""


def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (rows-only: xxhash64 has no DuckDB twin).
    Banded signature → bucket join; see operators/dedup.py for scale notes."""
    return dedup.minhash_lsh_candidates(read_table(spark, sf_dir, "documents"))


def simhash_bucket_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit fingerprints + prefix buckets (rows-only)."""
    return dedup.simhash_buckets(read_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- similarity

def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-10 cosine neighbors for query vectors
    (vec_id < 5). Double-precision math on both sides."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return similarity.brute_force_topk(emb, q, k=10)


_TOPK_COSINE_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 5),
p AS (
  SELECT q.query_id, e.vec_id, list_cosine_similarity(e.emb, q.q_emb) AS sim
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, vec_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
  FROM p
)
SELECT query_id, vec_id, round(sim, 6) AS cos_sim, rank
FROM r WHERE rank <= 10
"""


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH approximate top-k (rows-only: approximate recall
    is engine-defined; the scale path for 100 TB corpora).

    8 tables × 6 bits tuned for this near-random synthetic corpus (exact
    top-10 sims ≈ 0.4): measured recall 25/50 vs 13/50 at 8×8. Production
    corpora with real cluster structure would use more bits per table."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return similarity.lsh_topk(emb, q, k=10, n_tables=8, bits_per_table=6)


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus to
    its nearest centroid, probe the ``n_probe`` nearest cells per query
    (rows-only: approximate recall is engine-defined)."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return similarity.ivf_topk(emb, q, k=10)


def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH-bucketed self-join (rows-only:
    candidate generation is approximate). Threshold 0.3 sized to this
    near-random synthetic corpus whose max pairwise sim ≈ 0.45."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.3)


# -------------------------------------------------- as-of / range / windows

def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the most recent (ts' <= ts) purchase
    event of the same user. Union+window formulation (operators/asof.py);
    DuckDB's native ASOF JOIN is the oracle."""
    ev = read_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof.asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts", right_payload=["value"]
    )
    return joined.select("event_id", "user_id", "ts", "asof_ts", "value_asof")


_ASOF_ORACLE = """
SELECT e.event_id, e.user_id, e.ts, p.ts AS asof_ts, p.value AS value_asof
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
) p ON e.user_id = p.user_id AND p.ts <= e.ts
"""


def range_join_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitems shipped within 30 days of their order's date,
    revenue per order priority. Equi-key hash join + range post-filter."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    joined = asof.range_join(
        o, li, "o_orderkey", "l_orderkey", "o_orderdate", "l_shipdate",
        lower="0 days", upper="30 days",
    )
    return joined.groupBy("o_orderpriority").agg(
        _dec_sum("l_extendedprice", "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_RANGE_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM orders o JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
GROUP BY o.o_orderpriority
"""


def window_functions_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/row_number surface (SURVEY.md §2.5 'absent in reference,
    exposed unchanged'): per-customer order sequence features."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(by_price).alias("price_rank"),
        F.lag("o_totalprice").over(seq).alias("prev_price"),
        F.lead("o_totalprice").over(seq).alias("next_price"),
    )


_WINDOW_DEMO_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS price_rank,
       lag(o_totalprice) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS prev_price,
       lead(o_totalprice) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS next_price
FROM orders
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders (engine built-in beyond reference)."""
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        _dec_sum("o_totalprice", "sum_price"), F.count(F.lit(1)).alias("n_orders")
    )


_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS n_orders
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind cube/rollup) via
    Spark SQL — per-status, per-priority, and grand-total revenue in one
    aggregation pass."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def set_ops_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT surface (SURVEY.md §2.7 'absent in
    reference'): customers ordering in 1996 vs 1997, one labeled count per
    set operation. Each leg is a distinct-custkey set; Catalyst plans
    intersect/except as semi/anti joins."""
    o = read_table(spark, sf_dir, "orders")
    y = lambda yr: (  # noqa: E731
        o.where(F.year("o_orderdate") == yr).select("o_custkey").distinct()
    )
    c94, c95 = y(1996), y(1997)
    legs = [
        ("both_years", c94.intersect(c95)),
        ("only_1996", c94.exceptAll(c95)),
        ("only_1997", c95.exceptAll(c94)),
        ("either_year", c94.union(c95).distinct()),
    ]
    out = None
    for label, df in legs:
        cnt = df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(label).alias("set_op"), "n_customers"
        )
        out = cnt if out is None else out.unionByName(cnt)
    return out


_SET_OPS_ORACLE = """
WITH c94 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996),
     c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1997)
SELECT 'both_years' AS set_op, count(*) AS n_customers FROM (SELECT * FROM c94 INTERSECT SELECT * FROM c95)
UNION ALL
SELECT 'only_1996', count(*) FROM (SELECT * FROM c94 EXCEPT SELECT * FROM c95)
UNION ALL
SELECT 'only_1997', count(*) FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c94)
UNION ALL
SELECT 'either_year', count(*) FROM (SELECT * FROM c94 UNION SELECT * FROM c95)
"""


# ------------------------------------------------------- multi-join queries

def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filter → 3-table join → grouped revenue → top 10.

    Scale posture: customer (filtered dim) gets an explicit broadcast hint;
    orders⋈lineitem carries NO hint — AQE broadcasts it at bench scale but
    degrades to a shuffle join on orderkey at 100 TB, where a forced
    broadcast of a fact table would OOM. The final top-10 is
    TakeOrderedAndProject (no global sort materialization)."""
    c = read_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'")
    )
    return (
        li.join(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,4)",
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_SHIPPING_PRIORITY_ORACLE = """
SELECT l_orderkey, o_orderdate,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join (region⋈nation⋈customer⋈orders⋈lineitem
    ⋈supplier with customer and supplier in the same nation) → revenue per
    nation.

    Scale posture: explicit broadcast hints ONLY on the bounded dims
    (region, nation, supplier); customer and orders carry no hint so AQE
    broadcasts them at bench scale but falls back to shuffle joins on
    custkey/orderkey at 100 TB."""
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    dim = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dim, F.col("o_custkey") == dim.c_custkey)
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == s.s_suppkey)
            & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,4)",
            )
        )
    )


_REGIONAL_VOLUME_ORACLE = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part⋈lineitem revenue per brand for one part type — the classic
    dim-attribute rollup over a fact table. part broadcasts (bounded dim);
    lineitem aggregates map-side before the tiny brand shuffle."""
    p = read_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,4)",
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_BRAND_REVENUE_ORACLE = """
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = 'ECONOMY'
GROUP BY p_brand
"""


def promo_revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation — promo vs total revenue per
    ship month via ``sum(CASE WHEN …)``. part is a broadcast dim; the fact
    side shuffles once on the month key after map-side partial aggregation.
    Conditional sums use the exact-decimal trick; months with no PROMO
    lineitems yield NULL in both engines (sum over empty CASE)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


_PROMO_REVENUE_ORACLE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
                END) AS DOUBLE) AS promo_revenue,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ship_month
ORDER BY ship_month
"""


def priority_shipping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact⋈fact join + conditional counts
    (``sum(CASE WHEN priority …)``) per line status. No broadcast hint on
    either side — at 100 TB both orders and lineitem shuffle on orderkey
    (AQE may still broadcast at bench scale)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, F.lit(1)).otherwise(F.lit(0))).alias("high_line_count"),
            F.sum(F.when(~hi, F.lit(1)).otherwise(F.lit(0))).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_PRIORITY_COUNTS_ORACLE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def order_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 scalar surface: timestamp formatting with the reference's run-dir
    pattern ``%Y-%m-%d-%H-%M-%S`` (main.py:58-60, glue_job.py:85) as a
    vectorized column expression (the reference formats driver-side only).
    Bounded to the first 200 orders by key — formatting is per-row; the
    bound keeps the driver-compared result set small."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd-HH-mm-ss").alias("run_dir_ts"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


_DATE_FORMAT_ORACLE = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d-%H-%M-%S') AS run_dir_ts
FROM orders ORDER BY o_orderkey LIMIT 200
"""


def doc_base64_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 codec surface: base64 encode/decode as column expressions (the
    reference base64s its config driver-side: config.js:73, glue_job.py:51).
    RFC-4648 without MIME chunking so the encoding matches DuckDB/Trino
    byte-for-byte; the unbase64 roundtrip length proves decode-side
    fidelity. The CRLF strip makes the output canonical even when the
    session runs with ``spark.sql.chunkBase64String.enabled=true`` (the
    conf is set false in our session factory, but this query must be
    correct in ANY caller's session — the round-1 driver session chunked
    long documents into 76-char MIME lines and failed the value hash)."""
    d = read_table(spark, sf_dir, "documents")
    b64 = F.regexp_replace(
        F.base64(F.col("text").cast("binary")), "[\\r\\n]", ""
    )
    return d.select(
        "doc_id",
        b64.alias("text_b64"),
        F.length(F.unbase64(b64).cast("string")).alias("roundtrip_len"),
    )


_BASE64_ORACLE = """
SELECT doc_id,
       to_base64(encode(text)) AS text_b64,
       CAST(length(text) AS INTEGER) AS roundtrip_len
FROM documents
"""


def near_dup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed near-dedup pipeline (SURVEY.md §2.12): MinHash-LSH
    candidate generation → exact n-gram Jaccard verification on candidates
    only → verified pairs with jaccard ≥ 0.5. Rows-only (candidates are
    xxhash-seeded); the verification stage alone is oracle-checked via
    ngram_jaccard_small. At 100 TB the Jaccard join touches only the
    candidate set, never all-pairs."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(docs)
    scored = dedup.ngram_jaccard(docs, pairs)
    return scored.where(F.col("jaccard") >= 0.5)


def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-AND predicate spanning both join sides.
    Catalyst extracts the common p-side factors of the disjunction and
    pushes them into the part scan (predicate pushdown through OR) — the
    join only sees pre-filtered parts; the residual mixed predicate is
    evaluated post-join in whole-stage codegen."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    pred = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & (F.col("l_quantity") >= 5)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 20)
        & (F.col("l_quantity") >= 10)
    )
    return joined.where(pred).agg(
        _dec_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "revenue",
            "decimal(18,4)",
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_DISJUNCTIVE_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 5)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity >= 10)
"""


def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: split → explode → hash-aggregate → top-20
    (count desc, token asc — a total order, so the limit is deterministic).
    The explode never materializes the corpus-wide token table outside the
    aggregation pipeline: partial map-side counts collapse the shuffle to
    one row per distinct token per partition."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


_TOP_TOKENS_ORACLE = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline tail: MinHash-LSH candidate pairs → transitive
    closure (iterative min-label propagation, operators/dedup.py
    connected_components) → duplicate clusters with canonical doc + size.
    Rows-only (hash-seeded candidates); the closure operator itself is
    unit-tested on known graphs."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(docs)
    return dedup.dedup_clusters(docs, pairs)


def lineitem_dispersion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion statistics (stddev / variance / correlation) per return
    flag. Built from EXACT decimal sums of x, x², and x·y so the double
    arithmetic on top is identical in both engines (native stddev/corr are
    accumulation-order-dependent and not cross-engine bit-stable)."""
    li = read_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    # per-VALUE casts stay ≤ precision 18 (long-backed Decimal, codegen
    # primitive arithmetic; measured ~12% faster than decimal(28,4) inputs).
    # The SUM result type is widened by +10 digits automatically, so the
    # accumulated total still has the 28-digit headroom.
    sq = F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
    sq2 = F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(18,4)")).cast("double")
    sp = F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
    sp2 = F.sum((F.col("l_extendedprice") * F.col("l_extendedprice")).cast("decimal(18,4)")).cast("double")
    sqp = F.sum((F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(18,4)")).cast("double")
    agg = li.groupBy("l_returnflag").agg(
        n.alias("n"), sq.alias("sq"), sq2.alias("sq2"), sp.alias("sp"),
        sp2.alias("sp2"), sqp.alias("sqp"),
    )
    # nullif guards the n=1 group: ANSI mode raises DIVIDE_BY_ZERO even for
    # doubles; NULL stddev for a single-sample group matches SQL semantics.
    nm1 = F.nullif(F.col("n") - 1, F.lit(0.0))
    var_q = (F.col("sq2") - F.col("sq") * F.col("sq") / F.col("n")) / nm1
    var_p = (F.col("sp2") - F.col("sp") * F.col("sp") / F.col("n")) / nm1
    cov = (F.col("sqp") - F.col("sq") * F.col("sp") / F.col("n")) / nm1
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.sqrt(var_q), 6).alias("stddev_qty"),
        F.round(F.sqrt(var_p), 6).alias("stddev_price"),
        F.round(cov / (F.sqrt(var_q) * F.sqrt(var_p)), 6).alias("corr_qty_price"),
    )


_DISPERSION_ORACLE = """
WITH a AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq2,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sp2,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sqp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round(sqrt((sq2 - sq*sq/n)/NULLIF(n-1, 0)), 6) AS stddev_qty,
       round(sqrt((sp2 - sp*sp/n)/NULLIF(n-1, 0)), 6) AS stddev_price,
       round(((sqp - sq*sp/n)/NULLIF(n-1, 0)) / (sqrt((sq2 - sq*sq/n)/NULLIF(n-1, 0)) * sqrt((sp2 - sp*sp/n)/NULLIF(n-1, 0))), 6) AS corr_qty_price
FROM a
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS subquery via Spark SQL — Catalyst decorrelates
    it to a left-anti join (SURVEY.md §4 'subquery decorrelation built-in');
    the SQL-surface twin of the DataFrame anti-join query. Conditioned on
    year 2000 so the result is non-degenerate on this testdata (every
    customer has SOME order; 335/1500 lack a year-2000 order at sf0.01)."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer_sq c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders_sq o
            WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 2000
        )
        """
    )


_NOT_EXISTS_ORACLE = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 2000)
"""


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar-aggregate subquery: orders priced above their own
    customer's average. Catalyst rewrites the per-row subquery into an
    aggregate + join — the shape that would be O(n²) if executed naively."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sc")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders_sc o
        WHERE o_totalprice > (
            SELECT avg(o2.o_totalprice) FROM orders_sc o2
            WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


_SCALAR_SUBQUERY_ORACLE = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders o
WHERE o_totalprice > (
    SELECT avg(o2.o_totalprice) FROM orders o2
    WHERE o2.o_custkey = o.o_custkey
)
"""


def salted_event_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-immune two-phase salted aggregation (operators/skew.py) — the
    100 TB answer to a hot group key. Salting is semantically transparent:
    the oracle is the PLAIN grouped sum, proving the salt never leaks into
    results. Decimal cast makes the sum order-independent across engines."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(18,6)").alias("value")
    )
    out = skew.salted_grouped_sum(ev, ["event_type"], ["value"], salt_buckets=16)
    return out.select(
        "event_type",
        F.col("value_sum").cast("double").alias("value_sum"),
        "n_rows",
    )


_SALTED_SUM_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       count(*) AS n_rows
FROM events GROUP BY event_type
"""


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2-hour window, 1-hour slide) event counts — the
    overlapping-window surface (SURVEY.md §2.9: exposed for the events
    table). Spark's window() expands each event into its two covering
    windows before a plain hash aggregate."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


_SLIDING_WINDOW_ORACLE = """
SELECT ws AS window_start, count(*) AS n_events
FROM (
  SELECT date_trunc('hour', ts) AS ws FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws FROM events
)
GROUP BY ws
"""


# --------------------------------------------------------- pivot / unpivot

def pivot_qty_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-returnflag quantity sums spread across linestatus columns
    (explicit value list keeps the schema static — required at scale; an
    unlisted pivot triggers an extra distinct-values job)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
    )


_PIVOT_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
       CAST(sum(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F"
FROM lineitem GROUP BY l_returnflag
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack(): wide measures → (measure, value) rows. Bounded
    to a key range: the operator is row-expanding, and an unbounded result
    would make the correctness gate collect the whole fact table through
    the driver (the 2×|lineitem| rows dominated wall time, not the stack)."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(2, 'quantity', l_quantity, 'extendedprice', l_extendedprice)"
        ).alias("measure", "value"),
    )


_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
FROM lineitem WHERE l_orderkey < 2000
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure, l_extendedprice AS value
FROM lineitem WHERE l_orderkey < 2000
"""


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90) per order status.
    ``approx_percentile`` is the scale path; exact is the parity semantics
    (same split as COUNT DISTINCT, SURVEY.md §7.4.5)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


_PERCENTILE_ORACLE = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY o_orderstatus
"""


# ------------------------------------------------------------- UDF surface

def pandas_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf (Arrow-vectorized) text normalization."""
    from nbi_oedi_etl_spark.functions.udfs import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_text(F.col("text")).alias("norm_text"))


_PANDAS_NORM_ORACLE = r"""
SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
FROM documents
"""


def pandas_demean_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user demeaned event values."""
    from nbi_oedi_etl_spark.functions.udfs import demean_values

    return demean_values(read_table(spark, sf_dir, "events"))


_PANDAS_DEMEAN_ORACLE = """
SELECT event_id, user_id,
       round(value -
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id)
                  AS DOUBLE) / count(*) OVER (PARTITION BY user_id),
             6) AS value_demeaned
FROM events
"""


# ------------------------------------------------- sessions / streaming / mm

def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 30 min) over events — built-in session_window;
    oracle is the classic gaps-and-islands rewrite."""
    return sessions.user_sessions(read_table(spark, sf_dir, "events"))


_SESSIONS_ORACLE = """
WITH w AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
), g AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM w
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM g GROUP BY user_id, sid
"""


def streaming_hourly_resample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship resample as a Structured Streaming job: file source →
    watermark → tumbling 1-hour window → availableNow drain to a memory
    sink (SURVEY.md §2.9 T1-T5). Same results + naming as the batch
    flagship, so it shares the flagship oracle."""
    import tempfile

    from nbi_oedi_etl_spark.streaming import ingest

    # Scoped clone: pins UTC (watermarks require TIMESTAMP with local tz;
    # outputs cast back to NTZ below) and small state-partition count
    # without mutating the caller's session.
    s = ingest.scoped_streaming_session(spark)
    stream = ingest.events_file_stream(s, sf_dir)
    agg = ingest.streaming_hourly_resample(
        stream,
        ts_col="ts",
        entity_cols=("user_id",),
        min_cols=("event_id", "ts"),
        mean_cols=("value",),
        round_means=6,
    )
    q = ingest.run_available_now(agg, tempfile.mkdtemp(), queue_name="stream_hourly")
    q.awaitTermination()
    return s.table("stream_hourly").select(
        F.col("event_id_min"),
        F.col("ts_min").cast("timestamp_ntz").alias("ts_min"),
        F.col("value_mean"),
        F.col("user_id"),
        F.col("ts_hour").cast("timestamp_ntz").alias("ts_hour"),
    )


def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a STREAMING stateful aggregation: file source →
    groupBy(content hash) → min/count state → availableNow drain (complete
    mode). Shares the batch exact-dedup oracle — the drained state must
    equal the batch group-by exactly. At scale this is the continuous-ingest
    dedup path: state is one row per distinct hash; a new file's rows fold
    into existing groups incrementally (the batch path rescans the corpus)."""
    import tempfile

    from nbi_oedi_etl_spark.streaming import ingest

    s = ingest.scoped_streaming_session(spark)
    stream = ingest.table_file_stream(s, sf_dir, "documents")
    agg = stream.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    q = ingest.run_available_now(agg, tempfile.mkdtemp(), queue_name="stream_dedup")
    q.awaitTermination()
    return s.table("stream_dedup")


def stateful_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    session state with event-time timeout eviction (streaming/stateful.py).

    ORACLE-BACKED since the heartbeat upgrade: two far-future sentinel
    files (ingest.heartbeat_drain_dir) advance the watermark past every
    real session's timeout, so the drain emits the COMPLETE session
    history — event-time-timeout state flushes exactly like the batch
    sessionizer — and a first-principles lag/cumsum SQL twin checks it.
    Sentinel users (< 0) are excluded from the output; before the
    upgrade this was rows-only because tail sessions stayed in state."""
    import tempfile

    from nbi_oedi_etl_spark.streaming import ingest, stateful

    s = ingest.scoped_streaming_session(spark)
    d = ingest.heartbeat_drain_dir(sf_dir, [("view", -1)])
    stream = ingest.events_file_stream(s, sf_dir, max_files_per_trigger=1, stream_dir=d)
    sess = stateful.stateful_user_sessions(
        stream.select("user_id", "ts"), gap_seconds=1800
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        s.table("stateful_sessions")
        .where(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


_STATEFUL_SESSIONS_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS INTEGER) AS n_events
FROM sess
GROUP BY user_id, sid
"""


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, oracle-backed: build a genuine PNG per document
    (8-bit truecolor, the encoder cycling all five scanline filter types —
    operators/multimodal.py encode_png), then decode it with the
    pure-Python PNG parser (chunk walk + CRC, zlib inflate, and the
    sub/up/average/paeth unfilters) via the magic-byte dispatch
    ``decode_image_real``. Filtering is lossless, so the closed-form
    construction (dimensions from doc_id, pixels = md5(text) digest
    cycled) lets DuckDB predict the decoded features analytically without
    inflating a byte — an unfilter or chunk-walk bug hash-mismatches."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.extract_image_features(multimodal.with_png_payload(docs))


_PNG_FEATURES_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(1 + doc_id % 13 AS INTEGER) AS width,
         CAST(1 + doc_id % 7 AS INTEGER) AS height,
         md5(text) AS hx
  FROM documents
), b AS (
  SELECT doc_id, width, height,
         width * height * 3 AS n,
         list_transform(range(16),
             i -> ('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2))::BIGINT) AS db
  FROM d
)
SELECT doc_id, 'image/png' AS mime, width, height,
       CAST(3 AS INTEGER) AS channels,
       CAST((n // 16) * list_sum(db)
            + coalesce(list_sum(db[1:(n % 16)]), 0) AS BIGINT) AS pixel_byte_sum,
       TRUE AS decoded_ok
FROM b
"""


def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode, oracle-backed: build a genuine JPEG per
    document (grayscale, DC-only blocks with a uniform-16 quant table —
    operators/multimodal.py with_jpeg_payload), then decode it with the
    pure-Python T.81 decoder (marker walk, canonical huffman
    reconstruction, DC-difference entropy decode, dequantize, float64
    IDCT, level shift — operators/jpeg.py) via the magic-byte dispatch
    ``decode_image_real``. A DC-only block IDCTs to the flat value
    128 + dc·q/8 exactly, so DuckDB predicts the decoded pixel-byte sum
    analytically: any huffman, predictor, dequant, zigzag or IDCT bug
    hash-mismatches. AC/run-length, chroma subsampling and YCbCr paths
    are exercised in tests/test_multimodal_jpeg.py against an
    independent naive IDCT."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.extract_image_features(multimodal.with_jpeg_payload(docs))


_JPEG_FEATURES_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 4) AS INTEGER) AS width,
         CAST(8 * (1 + doc_id % 3) AS INTEGER) AS height,
         (1 + doc_id % 4) * (1 + doc_id % 3) AS nb
  FROM documents
)
SELECT doc_id, 'image/jpeg' AS mime, width, height,
       CAST(1 AS INTEGER) AS channels,
       CAST(list_sum(list_transform(range(nb),
                k -> 64 * (128 + 2 * (((doc_id * 7 + 13 * k) % 121) - 60))))
            AS BIGINT) AS pixel_byte_sum,
       TRUE AS decoded_ok
FROM d
"""


def multimodal_webp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP decode, oracle-backed: build a genuine VP8L
    stream per document (two id-derived colors alternating by column —
    operators/multimodal.py with_webp_payload, coded through the full
    complex code-length path by operators/webp.encode_webp_vp8l), then
    decode it with the pure-Python VP8L decoder (RIFF walk, 14-bit
    header, canonical prefix reconstruction, entropy decode) via the
    magic-byte dispatch ``decode_image_real``. The construction is
    closed-form, so DuckDB predicts the decoded pixel-byte sum
    analytically: any bit-order, canonical-code or container bug
    hash-mismatches. Transforms, LZ77 backrefs, the color cache and
    meta code groups are exercised in tests/test_multimodal_webp.py
    against hand-computed expected pixels."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.extract_image_features(multimodal.with_webp_payload(docs))


_WEBP_FEATURES_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(2 * (1 + doc_id % 4) AS INTEGER) AS width,
         CAST(1 + doc_id % 5 AS INTEGER) AS height,
         (doc_id*37+11) % 256 + (doc_id*59+5) % 256 + (doc_id*83+29) % 256 AS s0,
         (doc_id*41+3) % 256 + (doc_id*67+17) % 256 + (doc_id*89+7) % 256 AS s1
  FROM documents
)
SELECT doc_id, 'image/webp' AS mime, width, height,
       CAST(3 AS INTEGER) AS channels,
       CAST(height * (width // 2) * (s0 + s1) AS BIGINT) AS pixel_byte_sum,
       TRUE AS decoded_ok
FROM d
"""


def multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-backed: build a genuine uncompressed
    24-bpp BMP per document (dimensions from doc_id, pixels = md5(text)
    digest cycled — operators/multimodal.py encode_bmp), then decode it
    with the pure-Python BMP parser (header fields, 4-byte row padding,
    bottom-up row order) and emit (width, height, channels,
    pixel_byte_sum). The construction is closed-form, so DuckDB computes
    the expected features analytically without touching a codec — a
    value-hash check that fails if the decoder miscounts stride, padding,
    or header offsets."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.extract_bmp_features(multimodal.with_bmp_payload(docs))


_BMP_ROUNDTRIP_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(1 + doc_id % 13 AS INTEGER) AS width,
         CAST(1 + doc_id % 7 AS INTEGER) AS height,
         md5(text) AS hx
  FROM documents
), b AS (
  SELECT doc_id, width, height,
         width * height * 3 AS n,
         list_transform(range(16),
             i -> ('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2))::BIGINT) AS db
  FROM d
)
SELECT doc_id, width, height, CAST(3 AS INTEGER) AS channels,
       CAST((n // 16) * list_sum(db)
            + coalesce(list_sum(db[1:(n % 16)]), 0) AS BIGINT) AS pixel_byte_sum
FROM b
"""


def multimodal_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → nearest-neighbor resize → re-encode → decode again,
    oracle-backed end-to-end: the closed-form BMP construction
    (operators/multimodal.py with_bmp_payload) lets DuckDB predict the
    resized image's pixel-byte sum analytically — src pixel byte p is
    digest[p mod 16], dst (x2,y2) maps to src (x2·w//W2, y2·h//H2) — so a
    resampler that misindexes rows, channels, or the NN mapping
    hash-mismatches. Three chained mapInPandas stages, still one narrow
    no-shuffle pipeline."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.extract_bmp_features(
        multimodal.resize_bmp_images(multimodal.with_bmp_payload(docs), 8, 4)
    )


_BMP_RESIZE_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(1 + doc_id % 13 AS INTEGER) AS w,
         CAST(1 + doc_id % 7 AS INTEGER) AS h,
         md5(text) AS hx
  FROM documents
), b AS (
  SELECT doc_id, w, h,
         list_transform(range(16),
             i -> ('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2))::BIGINT) AS db
  FROM d
)
SELECT doc_id, CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(list_sum(flatten(list_transform(range(4), y2 ->
           list_transform(range(8), x2 ->
               db[(3*((y2*h//4)*w + (x2*w//8))) % 16 + 1]
             + db[(3*((y2*h//4)*w + (x2*w//8)) + 1) % 16 + 1]
             + db[(3*((y2*h//4)*w + (x2*w//8)) + 2) % 16 + 1]
           )))) AS BIGINT) AS pixel_byte_sum
FROM b
"""


def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-backed: build a genuine RIFF/WAVE PCM-16
    payload per document (closed-form samples from md5(text) —
    operators/multimodal.py with_wav_payload), chunk-walk and decode it for
    real, and emit integer amplitude features that DuckDB predicts
    analytically — a parser that misreads chunk sizes, sample signedness,
    or little-endian order hash-mismatches."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.extract_wav_features(multimodal.with_wav_payload(docs))


_WAV_FEATURES_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
         16 + doc_id % 48 AS n,
         md5(text) AS hx
  FROM documents
), b AS (
  SELECT doc_id, sample_rate, n,
         list_transform(range(16),
             i -> ('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2))::BIGINT) AS db
  FROM d
), s AS (
  SELECT doc_id, sample_rate, n,
         list_transform(range(n), j ->
             CASE WHEN db[(2*j) % 16 + 1] + 256 * db[(2*j+1) % 16 + 1] >= 32768
                  THEN db[(2*j) % 16 + 1] + 256 * db[(2*j+1) % 16 + 1] - 65536
                  ELSE db[(2*j) % 16 + 1] + 256 * db[(2*j+1) % 16 + 1]
             END) AS vals
  FROM b
)
SELECT doc_id, sample_rate, CAST(1 AS INTEGER) AS n_channels,
       CAST(n AS INTEGER) AS n_samples,
       CAST(list_sum(list_transform(vals, v -> abs(v))) AS BIGINT)
         AS sum_abs_amplitude,
       TRUE AS decoded_ok
FROM s
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over binary payloads, oracle-backed: the
    synthetic "video" payload is the text's md5 hex repeated 8× (256
    ASCII bytes, built with JVM expressions — no UDF), so the byte slices
    the sampler hashes are predictable by DuckDB VARCHAR substring
    arithmetic (ASCII ⇒ char offsets == byte offsets). The sampler itself
    (operators/multimodal.py sample_frames) still treats the payload as
    opaque bytes — equal-stride slicing + per-frame digest, the
    keyframe-extraction shape."""
    docs = read_table(spark, sf_dir, "documents")
    vid = docs.select(
        "doc_id",
        F.encode(F.repeat(F.md5(F.encode("text", "utf-8")), 8), "utf-8").alias(
            "payload"
        ),
        F.lit("video/x-synthetic").alias("mime"),
    )
    return multimodal.sample_frames(vid, n_frames=3)


_FRAME_SAMPLE_ORACLE = """
WITH v AS (
  SELECT doc_id, repeat(md5(text), 8) AS vid FROM documents
)
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       md5(substring(vid, CAST(i*85+1 AS BIGINT), 85)) AS frame_hash
FROM v, range(3) t(i)
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary→binary resize chain, oracle-backed end-to-end: PNG
    decode → nearest-neighbor resample → PNG re-encode → decode again →
    integer features. The NN mapping (src = dst·src_dim//dst_dim) over the
    closed-form pixel construction lets DuckDB predict the resized
    pixel-byte sum analytically — a resampler that misindexes rows,
    channels, or the mapping hash-mismatches, and a lossy re-encode (the
    filter cycle must stay bit-preserving) breaks the second decode.
    Three chained mapInPandas stages, one narrow no-shuffle pipeline."""
    docs = read_table(spark, sf_dir, "documents")
    resized = multimodal.resize_images(
        multimodal.with_png_payload(docs), width=8, height=4
    )
    return multimodal.extract_image_features(
        resized.select("doc_id", "payload", F.lit("image/png").alias("mime"))
    )


_PNG_RESIZE_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(1 + doc_id % 13 AS INTEGER) AS w,
         CAST(1 + doc_id % 7 AS INTEGER) AS h,
         md5(text) AS hx
  FROM documents
), b AS (
  SELECT doc_id, w, h,
         list_transform(range(16),
             i -> ('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2))::BIGINT) AS db
  FROM d
)
SELECT doc_id, 'image/png' AS mime,
       CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(list_sum(flatten(list_transform(range(4), y2 ->
           list_transform(range(8), x2 ->
               db[(3*((y2*h//4)*w + (x2*w//8))) % 16 + 1]
             + db[(3*((y2*h//4)*w + (x2*w//8)) + 1) % 16 + 1]
             + db[(3*((y2*h//4)*w + (x2*w//8)) + 2) % 16 + 1]
           )))) AS BIGINT) AS pixel_byte_sum,
       TRUE AS decoded_ok
FROM b
"""


# ---------------------------------------------------------------- registry
#
# Ordering contract: oracle-backed specs FIRST (grouped by area), rows-only
# specs (approximate / hash-seeded / streaming-stateful / multimodal) last.
# External correctness runs may evaluate a prefix of this list — the
# value-hash-checkable surface must never sit behind a rows-only entry.

from nbi_oedi_etl_spark import workload_ext as ext
from nbi_oedi_etl_spark import workload_ext2 as ext2
from nbi_oedi_etl_spark import workload_ext3 as ext3
from nbi_oedi_etl_spark import workload_ext4 as ext4
from nbi_oedi_etl_spark import workload_ext5 as ext5
from nbi_oedi_etl_spark import workload_ext6 as ext6
from nbi_oedi_etl_spark import workload_ext7 as ext7
from nbi_oedi_etl_spark import workload_ext8 as ext8
from nbi_oedi_etl_spark import workload_ext9 as ext9
from nbi_oedi_etl_spark import workload_ext10 as ext10
from nbi_oedi_etl_spark import workload_ext11 as ext11
from nbi_oedi_etl_spark import workload_ext12 as ext12
from nbi_oedi_etl_spark import workload_ext13 as ext13
from nbi_oedi_etl_spark import workload_ext14 as ext14
from nbi_oedi_etl_spark import workload_ext15 as ext15
from nbi_oedi_etl_spark import workload_ext16 as ext16
from nbi_oedi_etl_spark import workload_ext17 as ext17
from nbi_oedi_etl_spark import workload_ext18 as ext18
from nbi_oedi_etl_spark import workload_ext19 as ext19
from nbi_oedi_etl_spark import workload_ext20 as ext20
from nbi_oedi_etl_spark import workload_ext21 as ext21
from nbi_oedi_etl_spark import workload_ext22 as ext22
from nbi_oedi_etl_spark import workload_ext23 as ext23
from nbi_oedi_etl_spark import workload_ext24 as ext24
from nbi_oedi_etl_spark import workload_ext25 as ext25
from nbi_oedi_etl_spark import workload_ext26 as ext26
from nbi_oedi_etl_spark import workload_ext27 as ext27
from nbi_oedi_etl_spark import workload_ext28 as ext28
from nbi_oedi_etl_spark import workload_ext29 as ext29
from nbi_oedi_etl_spark import workload_ext30 as ext30
from nbi_oedi_etl_spark import workload_ext31 as ext31
from nbi_oedi_etl_spark import workload_ext32 as ext32
from nbi_oedi_etl_spark import workload_ext33 as ext33
from nbi_oedi_etl_spark import workload_ext34 as ext34
from nbi_oedi_etl_spark import workload_ext35 as ext35
from nbi_oedi_etl_spark import workload_ext36 as ext36
from nbi_oedi_etl_spark import workload_banded as wbanded
from nbi_oedi_etl_spark import workload_spine as wspine
from nbi_oedi_etl_spark import workload_tpch as tpch

try:  # transformWithState's python state-server protocol needs protobuf
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False

SPECS: list[QuerySpec] = [
    # ---- registration order (stable since round 4). External correctness
    # runs verify a PREFIX of the *final* SPECS list; the current window
    # is applied by the `_rotate` reorder after this literal, which moves
    # `_R15_WINDOW` to positions 1-50.
    # Rounds 1-4 hash-verified 157 distinct oracled specs (evidence banked
    # in CORRECTNESS_r01-04); nothing here regressed since. Rows-only last.
    QuerySpec("cross_source_contamination", ext6.cross_source_contamination, ext6.CONTAMINATION_ORACLE),
    QuerySpec("user_event_sequences", ext6.user_event_sequences, ext6.EVENT_SEQUENCES_ORACLE),
    QuerySpec("weighted_mixture_sample", ext6.weighted_mixture_sample, ext6.MIXTURE_SAMPLE_ORACLE),
    QuerySpec("label_centroid_quality", ext6.label_centroid_quality, ext6.LABEL_CENTROID_ORACLE),
    QuerySpec("multimodal_bmp_resize", multimodal_bmp_resize, _BMP_RESIZE_ORACLE),
    QuerySpec("multimodal_wav_features", multimodal_wav_features, _WAV_FEATURES_ORACLE),
    QuerySpec("multimodal_frame_sample", multimodal_frame_sample, _FRAME_SAMPLE_ORACLE),
    QuerySpec("cms_token_topk", ext6.cms_token_topk, ext6.CMS_TOPK_ORACLE),
    QuerySpec("hll_distinct_tokens", ext6.hll_distinct_tokens, ext6.HLL_DISTINCT_ORACLE),
    QuerySpec("bloom_decontamination", ext6.bloom_decontamination, ext6.BLOOM_DECONTAMINATION_ORACLE),
    QuerySpec("near_dup_keep_best", ext6.near_dup_keep_best, ext6.KEEP_BEST_ORACLE),
    QuerySpec("map_props_surface", ext.map_props_surface, ext.MAP_PROPS_ORACLE),
    QuerySpec("string_function_suite", ext.string_function_suite, ext.STRING_SUITE_ORACLE),
    QuerySpec("date_function_suite", ext.date_function_suite, ext.DATE_SUITE_ORACLE),
    QuerySpec("event_bitwise_aggregates", ext.event_bitwise_aggregates, ext.EVENT_BITWISE_ORACLE),
    QuerySpec("corpus_shard_assignment", ext5.corpus_shard_assignment, ext5.SHARD_ASSIGNMENT_ORACLE),
    QuerySpec("leakage_safe_splits", ext5.leakage_safe_splits, ext5.LEAKAGE_SPLITS_ORACLE),
    QuerySpec("variant_props_surface", ext4.variant_props_surface, ext4.VARIANT_ORACLE),
    # repaired round-3 red row: output is now all-scalar
    QuerySpec("order_rollup_per_customer", ext.order_rollup_per_customer, ext.ORDER_ROLLUP_ORACLE),
    # ---- round-4 additions (inside the 50-spec window) ----
    # real PNG codec retired the last fake decode: both former rows-only
    # multimodal specs are now closed-form oracle-backed
    QuerySpec("multimodal_image_features", multimodal_image_features, _PNG_FEATURES_ORACLE),
    QuerySpec("multimodal_resize", multimodal_resize, _PNG_RESIZE_ORACLE),
    # round-5: real baseline JPEG decoder closes the last image-format gap
    QuerySpec("multimodal_jpeg_features", multimodal_jpeg_features, _JPEG_FEATURES_ORACLE),
    # oracle-backed twin of the xxhash64 near_dup_pipeline: candidate
    # generation + Jaccard verification value-checked end-to-end
    QuerySpec("near_dup_pipeline_portable", ext6.near_dup_pipeline_portable, ext6.NEAR_DUP_PIPELINE_ORACLE),
    # third closure strategy (large-star/small-star, O(log d) rounds)
    # against the SAME oracle as min-label + recursive-SQL
    QuerySpec("near_dup_clusters_star", ext.near_dup_clusters_star, ext.CLUSTERS_PORTABLE_ORACLE),
    # retrieval scoring / embedding compression / unicode normalization
    QuerySpec("doc_bm25_top_terms", ext7.doc_bm25_top_terms, ext7.BM25_ORACLE),
    QuerySpec("embedding_int8_quantization", ext7.embedding_int8_quantization, ext7.INT8_QUANT_ORACLE),
    QuerySpec("doc_unicode_normalize", ext7.doc_unicode_normalize, ext7.UNICODE_NORMALIZE_ORACLE),
    # curation / graph / maintenance wave (workload_ext8): boilerplate
    # detection, reservoir sampling, char-bigram LM scoring, PageRank,
    # SCD1 merge, funnel, retention cohorts, containment dedup, Zipf fit
    QuerySpec("doc_boilerplate_ngrams", ext8.doc_boilerplate_ngrams, ext8.BOILERPLATE_ORACLE),
    QuerySpec("reservoir_sample_per_source", ext8.reservoir_sample_per_source, ext8.RESERVOIR_ORACLE),
    QuerySpec("char_bigram_lm_score", ext8.char_bigram_lm_score, ext8.CHAR_BIGRAM_LM_ORACLE),
    QuerySpec("nation_trade_pagerank", ext8.nation_trade_pagerank, ext8.PAGERANK_ORACLE),
    QuerySpec("scd1_merge_orders", ext8.scd1_merge_orders, ext8.SCD1_MERGE_ORACLE),
    QuerySpec("event_funnel_conversion", ext8.event_funnel_conversion, ext8.FUNNEL_ORACLE),
    QuerySpec("weekly_retention_cohorts", ext8.weekly_retention_cohorts, ext8.RETENTION_ORACLE),
    QuerySpec("doc_containment_pairs", ext8.doc_containment_pairs, ext8.CONTAINMENT_ORACLE),
    QuerySpec("zipf_slope_tokens", ext8.zipf_slope_tokens, ext8.ZIPF_ORACLE),
    # wave 3 (workload_ext9): streaming sketch, CDC dedup, BPE, DQ report
    QuerySpec("streaming_cms_token_topk", ext9.streaming_cms_token_topk, ext6.CMS_TOPK_ORACLE),
    QuerySpec("incremental_dedup_new_docs", ext9.incremental_dedup_new_docs, ext9.INCREMENTAL_DEDUP_ORACLE),
    QuerySpec("bpe_merge_candidates", ext9.bpe_merge_candidates, ext9.BPE_ORACLE),
    QuerySpec("data_quality_report", ext9.data_quality_report, ext9.DQ_REPORT_ORACLE),
    QuerySpec("embedding_ann_portable", ext9.embedding_ann_portable, ext9.ANN_PORTABLE_ORACLE),
    QuerySpec("streaming_hll_distinct_tokens", ext9.streaming_hll_distinct_tokens, ext6.HLL_DISTINCT_ORACLE),
    QuerySpec("quantile_sketch_order_price", ext9.quantile_sketch_order_price, ext9.QUANTILE_SKETCH_ORACLE),
    QuerySpec("hll_tokens_by_source", ext9.hll_tokens_by_source, ext9.HLL_BY_SOURCE_ORACLE),
    QuerySpec("session_window_stats", ext9.session_window_stats, ext9.SESSION_WINDOW_ORACLE),
    QuerySpec("weighted_reservoir_docs", ext10.weighted_reservoir_docs, ext10.WEIGHTED_RESERVOIR_ORACLE),
    QuerySpec("event_value_anomalies", ext10.event_value_anomalies, ext10.EVENT_ANOMALY_ORACLE),
    QuerySpec("copurchase_triangles", ext10.copurchase_triangles, ext10.TRIANGLES_ORACLE),
    # beyond the 50-slot external window this round (locally parity-gated;
    # rotates into the window next round)
    QuerySpec("embedding_ivf_portable", ext10.embedding_ivf_portable, ext10.IVF_PORTABLE_ORACLE),
    QuerySpec("ann_recall_portable", ext10.ann_recall_portable, ext10.ANN_RECALL_ORACLE),
    QuerySpec("event_type_markov", ext10.event_type_markov, ext10.EVENT_MARKOV_ORACLE),
    QuerySpec("lang_confusion_matrix", ext10.lang_confusion_matrix, ext10.LANG_CONFUSION_ORACLE),
    QuerySpec("kmeans_lloyd_3iter", ext10.kmeans_lloyd_3iter, ext10.KMEANS_LLOYD_ORACLE),
    # wave 5 (workload_ext11): stream-static join, interval islands,
    # k-core, KMV sketch set-ops, covariance matrix, lexical diversity
    QuerySpec("streaming_static_enrichment", ext11.streaming_static_enrichment, ext11.STATIC_ENRICHMENT_ORACLE),
    QuerySpec("supplier_busy_intervals", ext11.supplier_busy_intervals, ext11.BUSY_INTERVALS_ORACLE),
    QuerySpec("copurchase_kcore", ext11.copurchase_kcore, ext11.KCORE_ORACLE),
    QuerySpec("kmv_source_overlap", ext11.kmv_source_overlap, ext11.KMV_OVERLAP_ORACLE),
    QuerySpec("embedding_covariance", ext11.embedding_covariance, ext11.EMBEDDING_COVARIANCE_ORACLE),
    QuerySpec("doc_lexical_diversity", ext11.doc_lexical_diversity, ext11.LEXICAL_DIVERSITY_ORACLE),
    # wave 6 (workload_ext12): sparse-vector similarity join, winnowing
    # fingerprints, SemDeDup, PMI collocations, KL drift audit, k-fold
    # splits, dup-cluster monitoring
    QuerySpec("doc_sparse_cosine_pairs", ext12.doc_sparse_cosine_pairs, ext12.SPARSE_COSINE_ORACLE),
    QuerySpec("winnowing_fingerprints", ext12.winnowing_fingerprints, ext12.WINNOWING_ORACLE),
    QuerySpec("semantic_dedup_cells", ext12.semantic_dedup_cells, ext12.SEMANTIC_DEDUP_ORACLE),
    QuerySpec("token_pmi_bigrams", ext12.token_pmi_bigrams, ext12.TOKEN_PMI_ORACLE),
    QuerySpec("source_lang_kl_drift", ext12.source_lang_kl_drift, ext12.SOURCE_KL_ORACLE),
    QuerySpec("kfold_assignment", ext12.kfold_assignment, ext12.KFOLD_ORACLE),
    QuerySpec("dup_cluster_size_histogram", ext12.dup_cluster_size_histogram, ext12.DUP_SIZE_HISTOGRAM_ORACLE),
    # wave 7 (workload_ext13): bin-bucketed range self-join, sorted-
    # neighborhood ER, streaming session_window, median/MAD robust
    # outliers, MinHash estimator-error audit
    QuerySpec("rapid_reorder_pairs", ext13.rapid_reorder_pairs, ext13.RAPID_REORDER_ORACLE),
    QuerySpec("part_name_sorted_neighborhood", ext13.part_name_sorted_neighborhood, ext13.SORTED_NEIGHBORHOOD_ORACLE),
    QuerySpec("streaming_session_window_stats", ext13.streaming_session_window_stats, ext9.SESSION_WINDOW_ORACLE),
    QuerySpec("event_value_mad_outliers", ext13.event_value_mad_outliers, ext13.MAD_OUTLIERS_ORACLE),
    QuerySpec("minhash_estimator_audit", ext13.minhash_estimator_audit, ext13.MINHASH_AUDIT_ORACLE),
    # wave 8 (workload_ext14): entropy quality signal, burstiness,
    # BM25 search execution, DAU/WAU engagement rollup
    QuerySpec("doc_token_entropy", ext14.doc_token_entropy, ext14.TOKEN_ENTROPY_ORACLE),
    QuerySpec("user_interarrival_stats", ext14.user_interarrival_stats, ext14.INTERARRIVAL_ORACLE),
    QuerySpec("bm25_search_ranking", ext14.bm25_search_ranking, ext14.BM25_SEARCH_ORACLE),
    QuerySpec("daily_active_wau", ext14.daily_active_wau, ext14.DAU_WAU_ORACLE),
    # wave 9 (workload_ext15): PSI drift, content digest, session
    # trigram mining, source-partition modularity
    QuerySpec("event_value_psi_drift", ext15.event_value_psi_drift, ext15.PSI_DRIFT_ORACLE),
    QuerySpec("table_content_digest", ext15.table_content_digest, ext15.CONTENT_DIGEST_ORACLE),
    QuerySpec("session_event_trigrams", ext15.session_event_trigrams, ext15.SESSION_TRIGRAMS_ORACLE),
    QuerySpec("near_dup_source_modularity", ext15.near_dup_source_modularity, ext15.SOURCE_MODULARITY_ORACLE),
    # wave 10 (workload_ext16): composed ER pipeline, incremental MV merge
    QuerySpec("part_golden_records", ext16.part_golden_records, ext16.GOLDEN_RECORDS_ORACLE),
    QuerySpec("resample_incremental_merge", ext16.resample_incremental_merge, ext16.INCREMENTAL_MERGE_ORACLE),
    QuerySpec("streaming_click_purchase_left_join", ext16.streaming_click_purchase_left_join, ext16.STREAM_LEFT_JOIN_ORACLE),
    # wave 11 (workload_ext17): schema-wide RI audit, exact interpolated
    # percentiles, keyset pagination
    QuerySpec("referential_integrity_matrix", ext17.referential_integrity_matrix, ext17.RI_MATRIX_ORACLE),
    QuerySpec("order_price_percentiles_cont", ext17.order_price_percentiles_cont, ext17.PERCENTILES_CONT_ORACLE),
    QuerySpec("orders_keyset_pagination", ext17.orders_keyset_pagination, ext17.KEYSET_PAGINATION_ORACLE),
    # wave 12 (workload_ext18): BPE apply, weekday seasonal residuals,
    # two-proportion A/B z-test
    QuerySpec("bpe_apply_merges", ext18.bpe_apply_merges, ext18.BPE_APPLY_ORACLE),
    QuerySpec("daily_volume_seasonal_residuals", ext18.daily_volume_seasonal_residuals, ext18.SEASONAL_RESIDUALS_ORACLE),
    QuerySpec("purchase_conversion_ab_test", ext18.purchase_conversion_ab_test, ext18.AB_TEST_ORACLE),
    # wave 13 (workload_ext19): exactly-once CDC apply, windowed funnel,
    # Pareto concentration
    QuerySpec("streaming_foreachbatch_upsert", ext19.streaming_foreachbatch_upsert, ext.LATEST_EVENT_ORACLE),
    QuerySpec("event_funnel_windowed", ext19.event_funnel_windowed, ext19.FUNNEL_WINDOWED_ORACLE),
    QuerySpec("revenue_pareto_analysis", ext19.revenue_pareto_analysis, ext19.PARETO_ORACLE),
    # wave 14 (workload_ext20): batch model inference + calibration,
    # chi-square independence
    QuerySpec("quality_classifier_inference", ext20.quality_classifier_inference, ext20.CLASSIFIER_INFERENCE_ORACLE),
    QuerySpec("classifier_calibration_bins", ext20.classifier_calibration_bins, ext20.CALIBRATION_ORACLE),
    QuerySpec("lang_source_chi2", ext20.lang_source_chi2, ext20.CHI2_ORACLE),
    # wave 15 (workload_ext21): basket association rules, tie-aware ROC
    # AUC (distributed two-pass ranking), Benford conformance audit
    QuerySpec("brand_basket_rules", ext21.brand_basket_rules, ext21.BASKET_RULES_ORACLE),
    QuerySpec("classifier_roc_auc", ext21.classifier_roc_auc, ext21.ROC_AUC_ORACLE),
    QuerySpec("benford_first_digit", ext21.benford_first_digit, ext21.BENFORD_ORACLE),
    # wave 16 (workload_ext22): prefix-filtered exact Jaccard join,
    # Welch t-test, truncated-EWMA anomaly monitor
    QuerySpec("doc_jaccard_prefix_join", ext22.doc_jaccard_prefix_join, ext22.JACCARD_PREFIX_ORACLE),
    QuerySpec("event_value_welch_ttest", ext22.event_value_welch_ttest, ext22.WELCH_TTEST_ORACLE),
    QuerySpec("event_type_ewma_daily", ext22.event_type_ewma_daily, ext22.EWMA_ORACLE),
    # wave 17 (workload_ext23): column profiler, cumulative uniques, OLS
    QuerySpec("orders_column_profile", ext23.orders_column_profile, ext23.COLUMN_PROFILE_ORACLE),
    QuerySpec("cumulative_unique_users", ext23.cumulative_unique_users, ext23.CUMULATIVE_UNIQUE_ORACLE),
    QuerySpec("order_ols_price_vs_items", ext23.order_ols_price_vs_items, ext23.OLS_ORACLE),
    # wave 18 (workload_ext24): sliding HLL merge, SCD2 history, skyline
    QuerySpec("hll_sliding_weekly_users", ext24.hll_sliding_weekly_users, ext24.HLL_SLIDING_ORACLE),
    QuerySpec("scd2_user_state_history", ext24.scd2_user_state_history, ext24.SCD2_ORACLE),
    QuerySpec("part_price_size_skyline", ext24.part_price_size_skyline, ext24.SKYLINE_ORACLE),
    # wave 19 (workload_ext25): BFS hops, PR curve, snapshot diff
    QuerySpec("copurchase_bfs_hops", ext25.copurchase_bfs_hops, ext25.BFS_ORACLE),
    QuerySpec("classifier_pr_curve", ext25.classifier_pr_curve, ext25.PR_CURVE_ORACLE),
    QuerySpec("user_state_snapshot_diff", ext25.user_state_snapshot_diff, ext25.SNAPSHOT_DIFF_ORACLE),
    # wave 20 (workload_ext26): k-anonymity, readability, phrase search
    QuerySpec("customer_k_anonymity_audit", ext26.customer_k_anonymity_audit, ext26.K_ANONYMITY_ORACLE),
    QuerySpec("doc_readability_forcast", ext26.doc_readability_forcast, ext26.READABILITY_ORACLE),
    QuerySpec("phrase_search_positions", ext26.phrase_search_positions, ext26.PHRASE_SEARCH_ORACLE),
    # wave 21 (workload_ext27): RFM, imputation repair, attribution
    QuerySpec("customer_rfm_segmentation", ext27.customer_rfm_segmentation, ext27.RFM_ORACLE),
    QuerySpec("event_value_imputation", ext27.event_value_imputation, ext27.IMPUTATION_ORACLE),
    QuerySpec("purchase_attribution_first_last", ext27.purchase_attribution_first_last, ext27.ATTRIBUTION_ORACLE),
    # wave 22 (workload_ext28): bitmap set algebra, curve interpolation,
    # conversion latency distribution
    QuerySpec("segment_bitmap_overlap", ext28.segment_bitmap_overlap, ext28.BITMAP_OVERLAP_ORACLE),
    QuerySpec("order_rate_interpolation", ext28.order_rate_interpolation, ext28.RATE_INTERP_ORACLE),
    QuerySpec("conversion_latency_histogram", ext28.conversion_latency_histogram, ext28.LATENCY_HIST_ORACLE),
    # wave 23 (workload_ext29): apportionment, sweep-line, TWAP
    QuerySpec("shard_slot_apportionment", ext29.shard_slot_apportionment, ext29.APPORTIONMENT_ORACLE),
    QuerySpec("max_concurrent_sessions_daily", ext29.max_concurrent_sessions_daily, ext29.CONCURRENCY_ORACLE),
    QuerySpec("event_value_twap_daily", ext29.event_value_twap_daily, ext29.TWAP_ORACLE),
    # wave 24 (workload_ext30): KS test, equi-depth histogram, grouped OLS
    QuerySpec("hash_uniformity_ks", ext30.hash_uniformity_ks, ext30.KS_ORACLE),
    QuerySpec("order_price_equidepth_histogram", ext30.order_price_equidepth_histogram, ext30.EQUIDEPTH_ORACLE),
    QuerySpec("brand_price_quantity_ols", ext30.brand_price_quantity_ols, ext30.GROUPED_OLS_ORACLE),
    # wave 25 (workload_ext31): median CI, journey similarity, cohort LTV
    QuerySpec("median_ci_order_stats", ext31.median_ci_order_stats, ext31.MEDIAN_CI_ORACLE),
    QuerySpec("journey_similarity_matrix", ext31.journey_similarity_matrix, ext31.JOURNEY_SIM_ORACLE),
    QuerySpec("cohort_ltv_curve", ext31.cohort_ltv_curve, ext31.COHORT_LTV_ORACLE),
    # wave 26 (workload_ext32): incremental streaming uniques (shares the
    # batch oracle — incremental ≡ recompute), greedy submodular coverage
    QuerySpec("streaming_cumulative_unique_users", ext32.streaming_cumulative_unique_users, ext23.CUMULATIVE_UNIQUE_ORACLE),
    QuerySpec("greedy_coverage_selection", ext32.greedy_coverage_selection, ext32.GREEDY_COVERAGE_ORACLE),
    # wave 27 (workload_ext33): weighted order stats, quantile normalize
    QuerySpec("weighted_median_price", ext33.weighted_median_price, ext33.WEIGHTED_MEDIAN_ORACLE),
    QuerySpec("source_quantile_normalize", ext33.source_quantile_normalize, ext33.QUANTILE_NORMALIZE_ORACLE),
    QuerySpec("streaming_ewma_daily", ext32.streaming_ewma_daily, ext22.EWMA_ORACLE),
    # ---- banked: hash-verified in CORRECTNESS_r01/r02/r03 ----
    QuerySpec("streaming_hourly_resample", streaming_hourly_resample_events, _FLAGSHIP_ORACLE),
    QuerySpec("streaming_exact_dedup", streaming_exact_dedup, _EXACT_DEDUP_ORACLE),
    QuerySpec("streaming_sliding_window_counts", ext.streaming_sliding_window_counts, _SLIDING_WINDOW_ORACLE),
    QuerySpec("streaming_click_purchase_join", ext3.streaming_click_purchase_join, ext3.STREAM_JOIN_ORACLE),
    QuerySpec("streaming_watermark_dedup", ext4.streaming_watermark_dedup, ext4.WM_DEDUP_ORACLE),
    QuerySpec("part_name_fuzzy_pairs", ext4.part_name_fuzzy_pairs, ext4.FUZZY_ORACLE),
    QuerySpec("q2_best_supplier_per_part", tpch.q2_best_supplier_per_part, tpch.Q2_ORACLE),
    QuerySpec("q6_forecast_revenue", tpch.q6_forecast_revenue, tpch.Q6_ORACLE),
    QuerySpec("q8_market_share", tpch.q8_market_share, tpch.Q8_ORACLE),
    QuerySpec("q9_profit_by_nation_year", tpch.q9_profit_by_nation_year, tpch.Q9_ORACLE),
    QuerySpec("q10_returned_items", tpch.q10_returned_items, tpch.Q10_ORACLE),
    QuerySpec("q15_top_supplier", tpch.q15_top_supplier, tpch.Q15_ORACLE),
    QuerySpec("q17_small_qty_revenue", tpch.q17_small_qty_revenue, tpch.Q17_ORACLE),
    QuerySpec("q20_heavy_suppliers", tpch.q20_heavy_suppliers, tpch.Q20_ORACLE),
    QuerySpec("q21_waiting_suppliers", tpch.q21_waiting_suppliers, tpch.Q21_ORACLE),
    QuerySpec("q11_important_parts", ext3.q11_important_parts, ext3.Q11_ORACLE),
    QuerySpec("q13_order_count_distribution", ext3.q13_order_count_distribution, ext3.Q13_ORACLE),
    QuerySpec("minhash_lsh_portable", ext.minhash_lsh_portable, ext.MINHASH_PORTABLE_ORACLE),
    QuerySpec("near_dup_clusters_portable", ext.near_dup_clusters_portable, ext.CLUSTERS_PORTABLE_ORACLE),
    QuerySpec("simhash_portable", ext.simhash_portable, ext.SIMHASH_PORTABLE_ORACLE),
    QuerySpec("embedding_near_dup_exact_small", ext.embedding_near_dup_exact_small, ext.EMBEDDING_NEAR_DUP_EXACT_ORACLE),
    QuerySpec("near_dup_clusters_recursive_sql", ext4.near_dup_clusters_recursive_sql, ext4.RECURSIVE_CLUSTERS_ORACLE),
    QuerySpec("kmeans_assign_embeddings", ext4.kmeans_assign_embeddings, ext4.KMEANS_ASSIGN_ORACLE),
    QuerySpec("shingle_novelty", ext3.shingle_novelty, ext3.SHINGLE_NOVELTY_ORACLE),
    QuerySpec("doc_word_repetition", ext3.doc_word_repetition, ext3.WORD_REPETITION_ORACLE),
    QuerySpec("doc_chunking", ext4.doc_chunking, ext4.CHUNKING_ORACLE),
    QuerySpec("doc_tfidf_top_terms", ext4.doc_tfidf_top_terms, ext4.TFIDF_ORACLE),
    QuerySpec("doc_pii_scrub", ext2.doc_pii_scrub, ext2.PII_SCRUB_ORACLE),
    QuerySpec("doc_gopher_filter", ext2.doc_gopher_filter, ext2.GOPHER_FILTER_ORACLE),
    QuerySpec("doc_regex_token_estimate", ext.doc_regex_token_estimate, ext.REGEX_TOKEN_ORACLE),
    QuerySpec("hash_sample_documents", ext.hash_sample_documents, ext.HASH_SAMPLE_ORACLE),
    QuerySpec("stratified_sample_documents", ext.stratified_sample_documents, ext.STRATIFIED_SAMPLE_ORACLE),
    QuerySpec("char_stats_udtf", ext.char_stats_udtf, ext.CHAR_STATS_ORACLE),
    QuerySpec("corpus_prep_pipeline", ext4.corpus_prep_pipeline, ext4.CORPUS_PREP_ORACLE),
    QuerySpec("multimodal_bmp_roundtrip", multimodal_bmp_roundtrip, _BMP_ROUNDTRIP_ORACLE),
    QuerySpec("idle_rich_customers", ext.idle_rich_customers, ext.IDLE_RICH_ORACLE),
    QuerySpec("window_rank_suite", ext.window_rank_suite, ext.WINDOW_RANK_ORACLE),
    QuerySpec("rolling_revenue_90d", ext.rolling_revenue_90d, ext.ROLLING_90D_ORACLE),
    QuerySpec("embedding_norm_stats", ext.embedding_norm_stats, ext.EMBEDDING_NORM_ORACLE),
    QuerySpec("latest_event_per_user", ext.latest_event_per_user, ext.LATEST_EVENT_ORACLE),
    QuerySpec("cascade_daily_rollup", ext2.cascade_daily_rollup, ext2.CASCADE_DAILY_ORACLE),
    QuerySpec("scd2_user_events", ext2.scd2_user_events, ext2.SCD2_ORACLE),
    QuerySpec("full_outer_nation_activity", ext2.full_outer_nation_activity, ext2.FULL_OUTER_ORACLE),
    QuerySpec("cross_join_region_matrix", ext2.cross_join_region_matrix, ext2.CROSS_JOIN_ORACLE),
    QuerySpec("events_hourly_gapfill", ext4.events_hourly_gapfill, ext4.GAPFILL_ORACLE),
    QuerySpec("order_price_histogram", ext4.order_price_histogram, ext4.HISTOGRAM_ORACLE),
    QuerySpec("order_price_deciles", ext4.order_price_deciles, ext4.DECILES_ORACLE),
    QuerySpec("monthly_revenue_growth", ext4.monthly_revenue_growth, ext4.MOM_GROWTH_ORACLE),
    QuerySpec("python_datasource_resample", ext4.python_datasource_resample, ext4.PY_DATASOURCE_ORACLE),
    QuerySpec("flagship_hourly_resample", flagship_hourly_resample, _FLAGSHIP_ORACLE),
    QuerySpec("ref_q1_count_distinct", ref_q1_count_distinct, _Q1_ORACLE),
    QuerySpec("ref_q2_grouped_count_distinct", ref_q2_grouped_count_distinct, _Q2_ORACLE),
    QuerySpec("ref_q3_topk_per_group", ref_q3_topk_per_group, _Q3_ORACLE),
    QuerySpec("pricing_summary", pricing_summary, _PRICING_ORACLE),
    QuerySpec("topk_orders", topk_orders, _TOPK_ORDERS_ORACLE),
    QuerySpec("rollup_revenue", rollup_revenue, _ROLLUP_ORACLE),
    QuerySpec("customer_order_counts", customer_order_counts, _OUTER_ORACLE),
    QuerySpec("semi_join_customers", semi_join_customers, _SEMI_ORACLE),
    QuerySpec("anti_join_reconciliation", anti_join_reconciliation, _ANTI_ORACLE),
    QuerySpec("distinct_user_event_pairs", distinct_user_event_pairs, _DISTINCT_ORACLE),
    QuerySpec("upgrade_code_format", upgrade_code_format, _UPGRADE_ORACLE),
    QuerySpec("json_props_stats", json_props_stats, _JSON_ORACLE),
    QuerySpec("doc_token_stats", doc_token_stats, _TOKEN_ORACLE),
    QuerySpec("doc_quality", doc_quality, _QUALITY_ORACLE),
    QuerySpec("doc_lang_guess", doc_lang_guess, _LANG_ORACLE),
    QuerySpec("doc_fingerprints", doc_fingerprints, _FINGERPRINT_ORACLE),
    QuerySpec("exact_dedup_docs", exact_dedup_docs, _EXACT_DEDUP_ORACLE),
    QuerySpec("ngram_jaccard_small", ngram_jaccard_small, _NGRAM_JACCARD_ORACLE),
    QuerySpec("embedding_topk_cosine", embedding_topk_cosine, _TOPK_COSINE_ORACLE),
    QuerySpec("grouping_sets_revenue", grouping_sets_revenue, _GROUPING_SETS_ORACLE),
    QuerySpec("set_ops_customer_years", set_ops_customer_years, _SET_OPS_ORACLE),
    QuerySpec("shipping_priority", shipping_priority, _SHIPPING_PRIORITY_ORACLE),
    QuerySpec("brand_revenue", brand_revenue, _BRAND_REVENUE_ORACLE),
    QuerySpec("promo_revenue_by_month", promo_revenue_by_month, _PROMO_REVENUE_ORACLE),
    QuerySpec("priority_shipping_counts", priority_shipping_counts, _PRIORITY_COUNTS_ORACLE),
    QuerySpec("order_date_format", order_date_format, _DATE_FORMAT_ORACLE),
    QuerySpec("doc_base64_codec", doc_base64_codec, _BASE64_ORACLE),
    QuerySpec("disjunctive_filter_revenue", disjunctive_filter_revenue, _DISJUNCTIVE_ORACLE),
    QuerySpec("top_tokens", top_tokens, _TOP_TOKENS_ORACLE),
    QuerySpec("regional_supplier_volume", regional_supplier_volume, _REGIONAL_VOLUME_ORACLE),
    QuerySpec("lineitem_dispersion_stats", lineitem_dispersion_stats, _DISPERSION_ORACLE),
    QuerySpec("sliding_window_counts", sliding_window_counts, _SLIDING_WINDOW_ORACLE),
    QuerySpec("salted_event_value_sum", salted_event_value_sum, _SALTED_SUM_ORACLE),
    QuerySpec("customers_without_orders", customers_without_orders, _NOT_EXISTS_ORACLE),
    QuerySpec("orders_above_customer_avg", orders_above_customer_avg, _SCALAR_SUBQUERY_ORACLE),
    QuerySpec("asof_last_purchase", asof_last_purchase, _ASOF_ORACLE),
    QuerySpec("range_join_order_revenue", range_join_order_revenue, _RANGE_JOIN_ORACLE),
    QuerySpec("window_functions_demo", window_functions_demo, _WINDOW_DEMO_ORACLE),
    QuerySpec("cube_order_stats", cube_order_stats, _CUBE_ORACLE),
    QuerySpec("pivot_qty_by_linestatus", pivot_qty_by_linestatus, _PIVOT_ORACLE),
    QuerySpec("unpivot_lineitem_measures", unpivot_lineitem_measures, _UNPIVOT_ORACLE),
    QuerySpec("price_percentiles", price_percentiles, _PERCENTILE_ORACLE),
    QuerySpec("pandas_normalize_text", pandas_normalize_text, _PANDAS_NORM_ORACLE),
    QuerySpec("pandas_demean_values", pandas_demean_values, _PANDAS_DEMEAN_ORACLE),
    QuerySpec("user_sessions", user_sessions, _SESSIONS_ORACLE),
    QuerySpec("large_order_customers", ext.large_order_customers, ext.LARGE_ORDER_ORACLE),
    QuerySpec("nation_pair_volume", ext.nation_pair_volume, ext.NATION_PAIR_ORACLE),
    QuerySpec("late_shipment_priority_counts", ext.late_shipment_priority_counts, ext.LATE_SHIPMENT_ORACLE),
    QuerySpec("supplier_part_brand_counts", ext.supplier_part_brand_counts, ext.SUPPLIER_PART_ORACLE),
    # transformWithStateInPandas needs protobuf in the python workers
    # (Spark's state-server wire format); register its query only where
    # that's importable — absent in this container, present on a real
    # cluster (streaming/transform_state.py; logic unit-tested either way).
    *(
        [QuerySpec("streaming_running_totals", ext3.streaming_running_totals, ext3.RUNNING_TOTALS_ORACLE)]
        if _HAS_PROTOBUF
        else []
    ),
    # ---------------- rows-only from here down (no exact SQL twin) --------
    QuerySpec("ref_q1_approx_count_distinct", ref_q1_approx, None),
    QuerySpec("minhash_lsh_near_dup", minhash_lsh_near_dup, None),
    QuerySpec("simhash_buckets", simhash_bucket_docs, None),
    QuerySpec("embedding_lsh_topk", embedding_lsh_topk, None),
    QuerySpec("embedding_ivf_topk", embedding_ivf_topk, None),
    QuerySpec("embedding_cosine_near_dup", embedding_cosine_near_dup, None),
    QuerySpec("near_dup_pipeline", near_dup_pipeline, None),
    QuerySpec("near_dup_clusters", near_dup_clusters, None),
    QuerySpec("stateful_session_stats", stateful_session_stats, _STATEFUL_SESSIONS_ORACLE),
    # round-6: pure-Python VP8L decoder retires the WebP library gate
    # (registered BEHIND the r6 window — the window's 50 names are frozen
    # until the driver verifies the final 33-debt rotation)
    QuerySpec("multimodal_webp_features", multimodal_webp_features, _WEBP_FEATURES_ORACLE),
    # round-9: the two-pass-spine skew family (operators/skew.py) gets
    # driver CORRECTNESS entries (VERDICT r8 task 2) — the one major
    # component whose equivalence evidence was local-only until now.
    # Registered inside the r9 window; registry otherwise stays frozen.
    QuerySpec("spine_user_sessions", wspine.spine_user_sessions, wspine._SPINE_SESSIONS_ORACLE),
    QuerySpec("spine_running_value_sum", wspine.spine_running_value_sum, wspine._SPINE_RUNNING_SUM_ORACLE),
    QuerySpec("spine_event_rank", wspine.spine_event_rank, wspine._SPINE_RANK_ORACLE),
    # round-9, registered BEHIND the frozen r9 window (the documented
    # overflow path, as multimodal_webp_features was in r6): the GLOBAL
    # (un-keyed) two-pass forms — SCALE.md's "bucket-offset two-pass
    # prefix sum", implemented this round. They entered the r10 window
    # and were benched this round.
    QuerySpec("spine_global_running_value_sum", wspine.spine_global_running_value_sum, wspine._SPINE_GLOBAL_RUNNING_SUM_ORACLE),
    QuerySpec("spine_global_event_rank", wspine.spine_global_event_rank, wspine._SPINE_GLOBAL_RANK_ORACLE),
    # round-10: driver-oracled twin of the at-rest LSH banding layout
    # (operators/banded_layout run under the md5-portable hash family) —
    # registered INSIDE the r10 window, as the keyed spine family was in
    # r9; benched same-round per the freeze policy.
    QuerySpec(
        "banded_layout_portable",
        wbanded.banded_layout_portable,
        wbanded.BANDED_LAYOUT_PORTABLE_ORACLE,
    ),
    # round-10: the layout's CDC loop as a 3-micro-batch STREAM
    # (probe each batch against the layout, append, accumulate pairs
    # under versioned commits) — oracled via the %3 batch split.
    QuerySpec(
        "streaming_banded_cdc_dedup",
        wbanded.streaming_banded_cdc_dedup,
        wbanded.STREAMING_BANDED_CDC_ORACLE,
    ),
    # round-10, registered BEHIND the frozen r10 window (the documented
    # overflow path): concat-and-cut training-sequence packing — the
    # LLM-pipeline step between chunking and shard assignment. Benched
    # same-round; enters the r11 window head.
    QuerySpec(
        "corpus_pack_sequences",
        ext34.corpus_pack_sequences,
        ext34.PACK_SEQUENCES_ORACLE,
    ),
    QuerySpec(
        "corpus_pack_slices",
        ext34.corpus_pack_slices,
        ext34.PACK_SLICES_ORACLE,
    ),
    QuerySpec(
        "corpus_pack_sequences_global",
        ext34.corpus_pack_sequences_global,
        ext34.PACK_SEQUENCES_GLOBAL_ORACLE,
    ),
    QuerySpec(
        "source_token_budget_cap",
        ext34.source_token_budget_cap,
        ext34.SOURCE_BUDGET_CAP_ORACLE,
    ),
    # round-11 (VERDICT r10 task 5): rows-only PRODUCTION-family twin of
    # streaming_banded_cdc_dedup — same CDC loop, xxhash64 banding at the
    # portable twin's geometry, so the bench carries the measured
    # portable-vs-production hashing premium. Rows-only like the other
    # hash-seeded specs (xxhash64 is not DuckDB-reproducible); its value
    # evidence is the oracled portable twin + write→probe parity
    # property tests.
    QuerySpec(
        "streaming_banded_cdc_dedup_production",
        wbanded.streaming_banded_cdc_dedup_production,
        None,
    ),
    # round-11 (VERDICT r10 optional task 9): exact substring-level
    # dedup — maximal cross-doc duplicated token spans via the sorted
    # shingle spine + run-length grouping (the distributed form of the
    # Lee et al. suffix-array recipe). Registered INSIDE the r11 window
    # (never-verified by construction), benched same-round.
    QuerySpec(
        "doc_duplicate_spans",
        ext35.doc_duplicate_spans,
        ext35.DOC_DUPLICATE_SPANS_ORACLE,
    ),
    # round-11, registered BEHIND the frozen r11 window (the documented
    # overflow path): the REPAIR half of substring dedup — cut every
    # non-canonical duplicated span (keep-first by min doc_id) and emit
    # the cleaned corpus. Benched same-round; enters the r12 window head.
    QuerySpec(
        "doc_cut_duplicate_spans",
        ext35.doc_cut_duplicate_spans,
        ext35.DOC_CUT_DUPLICATE_SPANS_ORACLE,
    ),
    # round-11, also behind the frozen r11 window: the packing family's
    # audit + recipe-side companions — per-sequence boundary stats (the
    # number that decides cross-doc attention masking) and the
    # temperature-sampled mixture allocation (w ∝ tokens^0.7) upstream
    # of source_token_budget_cap. Benched same-round.
    QuerySpec(
        "pack_boundary_stats",
        ext34.pack_boundary_stats,
        ext34.PACK_BOUNDARY_STATS_ORACLE,
    ),
    QuerySpec(
        "source_temperature_mixture",
        ext34.source_temperature_mixture,
        ext34.SOURCE_TEMPERATURE_MIXTURE_ORACLE,
    ),
    # round-11: packing as a CDC stream — 3 micro-batches continue the
    # packed stream from per-source token-total state; drained union
    # oracled as one-shot packing over (batch, doc_id) order.
    QuerySpec(
        "streaming_pack_sequences",
        ext34.streaming_pack_sequences,
        ext34.STREAMING_PACK_SEQUENCES_ORACLE,
    ),
    # round-11: the IVF layout's CDC loop as a stream (probe each
    # embedding batch for top-k among PRIOR vectors, then append) —
    # rows-only like embedding_ivf_topk (seeded k-means codebook is not
    # SQL-reproducible); value evidence = the incremental==one-shot
    # layout equivalence pins + the oracled exact-cosine specs.
    QuerySpec(
        "streaming_ivf_cdc_ann",
        wbanded.streaming_ivf_cdc_ann,
        None,
    ),
    # round-11: span-level benchmark decontamination — WHERE the eval
    # overlap sits (the cut-not-drop recipe), completing the
    # decontamination family (score / bounded-broadcast / span).
    QuerySpec(
        "benchmark_contamination_spans",
        ext35.benchmark_contamination_spans,
        ext35.BENCHMARK_CONTAMINATION_SPANS_ORACLE,
    ),
    # round-11 wave 2 (behind the frozen r11 window, per the freeze
    # policy — benched same-round, enter the r12 window):
    # product quantization training/encoding + the ADC top-k scan (the
    # 100 TB ANN memory layout: M bytes per vector; composes with the
    # IVF layout as IVF-PQ), the seeded deterministic epoch shuffle
    # (training order as a reproducible permutation, ranks through the
    # skew-dispatched cumsum — epoch is the lowest-cardinality key in
    # the registry), and the CCNet perplexity filter decision (corpus
    # word-bigram LM score + per-source head/middle/tail terciles via
    # exact integer rank arithmetic).
    QuerySpec(
        "embedding_pq_codes",
        ext36.embedding_pq_codes,
        ext36.PQ_CODES_ORACLE,
    ),
    QuerySpec(
        "embedding_pq_adc_topk",
        ext36.embedding_pq_adc_topk,
        ext36.PQ_ADC_ORACLE,
    ),
    QuerySpec(
        "corpus_epoch_shuffle",
        ext36.corpus_epoch_shuffle,
        ext36.EPOCH_SHUFFLE_ORACLE,
    ),
    QuerySpec(
        "ccnet_perplexity_buckets",
        ext36.ccnet_perplexity_buckets,
        ext36.CCNET_PERPLEXITY_ORACLE,
    ),
    # round-11 wave 2: the PQ family's recall audit (the ANN evidence
    # convention — every approximate tier ships with one; this is
    # ann_recall_portable for the compressed-domain scan).
    QuerySpec(
        "pq_recall_audit",
        ext36.pq_recall_audit,
        ext36.PQ_RECALL_ORACLE,
    ),
    # round-11 wave 2: the full IVF-PQ composition (coarse-cell probe +
    # residual-PQ ADC rerank), every stage DuckDB-oracled — the
    # production 100 TB ANN shape as one value-checked lineage.
    QuerySpec(
        "ivf_pq_portable",
        ext36.ivf_pq_portable,
        ext36.IVF_PQ_ORACLE,
    ),
    # round-12 (VERDICT r11 task 9): tokenizer-true packing — the
    # packing cumsum on BPE unit counts from the corpus's own mined
    # merges (mine → apply → pack closes the tokenizer loop).
    QuerySpec(
        "corpus_pack_sequences_bpe",
        ext34.corpus_pack_sequences_bpe,
        ext34.PACK_SEQUENCES_BPE_ORACLE,
    ),
    # round-12: the compressed-tier CDC stream (completes the triple:
    # banded, IVF, IVF-PQ) — first nonempty batch trains the IVF-PQ
    # layout, later batches ADC-probe then append through the PQ-aware
    # encoder. Rows-only (seeded k-means + Lloyd PQ training are not
    # SQL-reproducible — the streaming_ivf_cdc_ann adjudication); value
    # evidence = branch parity + post-append numpy reconstruction pins
    # + the oracled PQ spec family.
    QuerySpec(
        "streaming_ivf_pq_cdc_ann",
        wbanded.streaming_ivf_pq_cdc_ann,
        None,
    ),
    # round-13 (VERDICT r12 optional 7): recall@k vs probe width for the
    # IVFADC composition — the compressed tier's quality/cost trade as
    # an oracled, per-round-measurable spec (one row per n_probe level,
    # mean recall against exact brute-force + mean ADC candidates).
    QuerySpec(
        "ivf_pq_recall_curve",
        ext36.ivf_pq_recall_curve,
        ext36.IVF_PQ_RECALL_CURVE_ORACLE,
    ),
    # round-13: the dedup family's quality/cost curve — candidate
    # recall/precision/cost vs banding configuration (rows-per-band
    # r ∈ {1,2,4,8} over the shared 8-slot portable signature) against
    # the EXACT Jaccard ≥ τ truth from the prefix-filter join. Completes
    # the per-tier measurement trio: IVF (ann_recall_portable), PQ
    # (pq_recall_audit + ivf_pq_recall_curve), LSH (this).
    QuerySpec(
        "lsh_banding_recall_curve",
        ext36.lsh_banding_recall_curve,
        ext36.LSH_BANDING_CURVE_ORACLE,
    ),
    # round-13: the EXACT IVF tier's recall-vs-n_probe curve — paired
    # with ivf_pq_recall_curve it decomposes the compressed tier's
    # recall loss (exact − ADC = PQ distortion; 1 − exact = coarse
    # miss); reaches 1.0 at full probe by construction, pinning both
    # endpoints. Index side shared via _ivfpq_index_cached.
    QuerySpec(
        "ivf_recall_curve",
        ext36.ivf_recall_curve,
        ext36.IVF_RECALL_CURVE_ORACLE,
    ),
]

# ---- correctness-window rotation ----------------------------------------
# The external driver hash-verifies a 50-spec prefix of SPECS per round, so
# queries() order is: _R15_WINDOW, then the other oracled specs, then the
# rows-only specs (only _ROWS_ONLY_WINDOW_OK may sit inside the window). A
# spec registered or edited after the window froze goes into
# _POST_R15_ADDITIONS, the overflow queue that heads the next window.
# tests/test_rotation.py enforces this: every spec that
# tools/rotation_audit.verification_debt() flags must be in one of the two.
_ROWS_ONLY_WINDOW_OK: list[str] = [
    "streaming_ivf_pq_cdc_ann",
    "streaming_banded_cdc_dedup_production",
    "streaming_ivf_cdc_ann",
]
_R15_WINDOW: list[str] = [
    # -- 4 post-r14 freeze debt (verdict r14 item 2) --
    "doc_cut_duplicate_spans",
    "doc_duplicate_spans",
    "char_bigram_lm_score",
    "label_centroid_quality",
    # -- 17 r15 optimization debt (streaming harness memoization + CDC
    # sink-job overlap, guide §2.6; verified by rotation_audit.py) --
    "banded_layout_portable",
    "stateful_session_stats",
    "streaming_banded_cdc_dedup",
    "streaming_click_purchase_join",
    "streaming_click_purchase_left_join",
    "streaming_cms_token_topk",
    "streaming_cumulative_unique_users",
    "streaming_ewma_daily",
    "streaming_exact_dedup",
    "streaming_foreachbatch_upsert",
    "streaming_hll_distinct_tokens",
    "streaming_hourly_resample",
    "streaming_pack_sequences",
    "streaming_session_window_stats",
    "streaming_sliding_window_counts",
    "streaming_static_enrichment",
    "streaming_watermark_dedup",
    # -- 3 rows-only CDC streams (this round's optimization targets) --
    "streaming_ivf_pq_cdc_ann",
    "streaming_banded_cdc_dedup_production",
    "streaming_ivf_cdc_ann",
    # -- 6 more r15 debt: the multimodal input-parallelism wave (the
    # jpeg/webp builders spread their doc_id projection before the
    # Python codec stage; the cheap-codec builders measured slower and
    # keep their shape, but the shared-module digest moves them all) --
    "multimodal_bmp_resize",
    "multimodal_bmp_roundtrip",
    "multimodal_frame_sample",
    "multimodal_image_features",
    "multimodal_jpeg_features",
    "multimodal_resize",
    # -- 16 banked r8-green refreshers --
    "multimodal_wav_features", "multimodal_webp_features",
    "pivot_qty_by_linestatus", "price_percentiles",
    "priority_shipping_counts", "promo_revenue_by_month",
    "range_join_order_revenue", "regional_supplier_volume",
    "set_ops_customer_years", "shipping_priority",
    "sliding_window_counts", "supplier_part_brand_counts",
    "top_tokens", "unpivot_lineitem_measures",
    "user_sessions", "window_functions_demo",
    # -- 4 stalest (r9-green) refreshers, alphabetical --
    "bloom_decontamination", "bpe_merge_candidates", "cms_token_topk",
    "copurchase_triangles",
]

# The overflow queue holds 212 specs because the read_table schema memo
# (sources/parquet.py, OPTIMIZATION_r15.md) sits in every spec's dependency
# closure, so the audit flagged all 259 oracled specs at once; the window
# took the directly optimized paths. Until they are driver re-hashed, their
# value evidence is tests/test_oracle_parity.py (DuckDB parity, 260 specs).
_POST_R15_ADDITIONS: list[str] = [
    "ann_recall_portable", "anti_join_reconciliation", "asof_last_purchase",
    "benchmark_contamination_spans", "benford_first_digit", "bm25_search_ranking",
    "bpe_apply_merges", "brand_basket_rules", "brand_price_quantity_ols",
    "brand_revenue", "cascade_daily_rollup", "ccnet_perplexity_buckets",
    "char_stats_udtf", "classifier_calibration_bins", "classifier_pr_curve",
    "classifier_roc_auc", "cohort_ltv_curve", "conversion_latency_histogram",
    "copurchase_bfs_hops", "copurchase_kcore", "corpus_epoch_shuffle",
    "corpus_pack_sequences", "corpus_pack_sequences_bpe", "corpus_pack_sequences_global",
    "corpus_pack_slices", "corpus_prep_pipeline", "corpus_shard_assignment",
    "cross_join_region_matrix", "cross_source_contamination", "cube_order_stats",
    "cumulative_unique_users", "customer_k_anonymity_audit", "customer_order_counts",
    "customer_rfm_segmentation", "customers_without_orders", "daily_active_wau",
    "daily_volume_seasonal_residuals", "data_quality_report", "date_function_suite",
    "disjunctive_filter_revenue", "distinct_user_event_pairs", "doc_base64_codec",
    "doc_bm25_top_terms", "doc_boilerplate_ngrams", "doc_chunking",
    "doc_containment_pairs", "doc_fingerprints", "doc_gopher_filter",
    "doc_jaccard_prefix_join", "doc_lang_guess", "doc_lexical_diversity",
    "doc_pii_scrub", "doc_quality", "doc_readability_forcast",
    "doc_regex_token_estimate", "doc_sparse_cosine_pairs", "doc_tfidf_top_terms",
    "doc_token_entropy", "doc_token_stats", "doc_unicode_normalize",
    "doc_word_repetition", "dup_cluster_size_histogram", "embedding_ann_portable",
    "embedding_covariance", "embedding_int8_quantization", "embedding_ivf_portable",
    "embedding_near_dup_exact_small", "embedding_norm_stats", "embedding_pq_adc_topk",
    "embedding_pq_codes", "embedding_topk_cosine", "event_bitwise_aggregates",
    "event_funnel_conversion", "event_funnel_windowed", "event_type_ewma_daily",
    "event_type_markov", "event_value_anomalies", "event_value_imputation",
    "event_value_mad_outliers", "event_value_psi_drift", "event_value_twap_daily",
    "event_value_welch_ttest", "events_hourly_gapfill", "exact_dedup_docs",
    "flagship_hourly_resample", "full_outer_nation_activity", "greedy_coverage_selection",
    "grouping_sets_revenue", "hash_sample_documents", "hash_uniformity_ks",
    "hll_distinct_tokens", "hll_sliding_weekly_users", "hll_tokens_by_source",
    "idle_rich_customers", "incremental_dedup_new_docs", "ivf_pq_portable",
    "ivf_pq_recall_curve", "ivf_recall_curve", "journey_similarity_matrix",
    "json_props_stats", "kfold_assignment", "kmeans_assign_embeddings",
    "kmeans_lloyd_3iter", "kmv_source_overlap", "lang_confusion_matrix",
    "lang_source_chi2", "large_order_customers", "late_shipment_priority_counts",
    "latest_event_per_user", "leakage_safe_splits", "lineitem_dispersion_stats",
    "lsh_banding_recall_curve", "map_props_surface", "max_concurrent_sessions_daily",
    "median_ci_order_stats", "minhash_estimator_audit", "minhash_lsh_portable",
    "monthly_revenue_growth", "nation_pair_volume", "nation_trade_pagerank",
    "near_dup_clusters_portable", "near_dup_clusters_recursive_sql", "near_dup_clusters_star",
    "near_dup_keep_best", "near_dup_pipeline_portable", "near_dup_source_modularity",
    "ngram_jaccard_small", "order_date_format", "order_ols_price_vs_items",
    "order_price_deciles", "order_price_equidepth_histogram", "order_price_histogram",
    "order_price_percentiles_cont", "order_rate_interpolation", "order_rollup_per_customer",
    "orders_above_customer_avg", "orders_column_profile", "orders_keyset_pagination",
    "pack_boundary_stats", "pandas_demean_values", "pandas_normalize_text",
    "part_golden_records", "part_name_fuzzy_pairs", "part_name_sorted_neighborhood",
    "part_price_size_skyline", "phrase_search_positions", "pq_recall_audit",
    "pricing_summary", "purchase_attribution_first_last", "purchase_conversion_ab_test",
    "q10_returned_items", "q11_important_parts", "q13_order_count_distribution",
    "q15_top_supplier", "q17_small_qty_revenue", "q20_heavy_suppliers",
    "q21_waiting_suppliers", "q2_best_supplier_per_part", "q6_forecast_revenue",
    "q8_market_share", "q9_profit_by_nation_year", "quality_classifier_inference",
    "quantile_sketch_order_price", "rapid_reorder_pairs", "ref_q1_count_distinct",
    "ref_q2_grouped_count_distinct", "ref_q3_topk_per_group", "referential_integrity_matrix",
    "resample_incremental_merge", "reservoir_sample_per_source", "revenue_pareto_analysis",
    "rolling_revenue_90d", "rollup_revenue", "salted_event_value_sum",
    "scd1_merge_orders", "scd2_user_events", "scd2_user_state_history",
    "segment_bitmap_overlap", "semantic_dedup_cells", "semi_join_customers",
    "session_event_trigrams", "session_window_stats", "shard_slot_apportionment",
    "shingle_novelty", "simhash_portable", "source_lang_kl_drift",
    "source_quantile_normalize", "source_temperature_mixture", "source_token_budget_cap",
    "spine_event_rank", "spine_global_event_rank", "spine_global_running_value_sum",
    "spine_running_value_sum", "spine_user_sessions", "stratified_sample_documents",
    "string_function_suite", "supplier_busy_intervals", "table_content_digest",
    "token_pmi_bigrams", "topk_orders", "upgrade_code_format",
    "user_event_sequences", "user_interarrival_stats", "user_state_snapshot_diff",
    "variant_props_surface", "weekly_retention_cohorts", "weighted_median_price",
    "weighted_mixture_sample", "weighted_reservoir_docs", "window_rank_suite",
    "winnowing_fingerprints", "zipf_slope_tokens",
]


def _rotate(specs: list[QuerySpec]) -> list[QuerySpec]:
    by_name = {s.name: s for s in specs}
    front = [by_name[n] for n in _R15_WINDOW]
    front_set = {s.name for s in front}
    rest_oracled = [s for s in specs if s.name not in front_set and s.oracle is not None]
    rest_rows_only = [s for s in specs if s.name not in front_set and s.oracle is None]
    assert len(front) + len(rest_oracled) + len(rest_rows_only) == len(specs)
    # the verified window is oracle-backed except the documented
    # rows-only entries (the driver records their weaker row check)
    assert all(
        s.oracle is not None or s.name in _ROWS_ONLY_WINDOW_OK for s in front
    )
    return front + rest_oracled + rest_rows_only


SPECS = _rotate(SPECS)


def queries() -> dict[str, QueryFn]:
    return {s.name: s.fn for s in SPECS}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in SPECS if s.oracle is not None}

"""Round-2 workload extensions: deeper SQL-surface coverage (HAVING /
EXISTS / distinct-agg / window-rank / range frames), array+map function
surface, and cross-engine-deterministic variants of the hash-seeded
pipeline operators (portable MinHash-LSH, hash sampling) so the dedup
tier is value-hash-checked against DuckDB, not just rows-only.

Same determinism rules as workload.py (decimal-sum trick, rounded means,
NTZ timestamps, explicit INTEGER casts for row_number/ntile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.memo import Memo, session_key
from nbi_oedi_etl_spark.sources import read_table


def _dec_sum(col, alias: str, scale: str = "decimal(18,2)"):
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double").alias(alias)


# ----------------------------------------------------- TPC-H-shape coverage

def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped fact + IN-subquery shaped
    semi-join back to the enclosing join. The inner aggregate runs ONCE
    (one shuffle on orderkey); at 100 TB the orderkey aggregate reuses the
    lineitem clustering and the qualifying-key set is small enough that AQE
    broadcasts it into the orders join."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum("l_quantity", "total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


LARGE_ORDER_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(sum_qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300
) b
JOIN orders ON b.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: customer-nation × supplier-nation trade volume per
    ship year for one nation pair (both directions). nation broadcasts
    twice under different role aliases; the lineitem⋈orders⋈customer spine
    shuffles on its keys at scale."""
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    pair = (
        (F.col("cust_nation") == "NATION_3") & (F.col("supp_nation") == "NATION_7")
    ) | ((F.col("cust_nation") == "NATION_7") & (F.col("supp_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("sn_key"))
        .where(pair)
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "volume",
                "decimal(18,4)",
            )
        )
    )


NATION_PAIR_ORACLE = """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY cust_nation, supp_nation, ship_year
"""


def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — orders with at least one lineitem
    shipped > 60 days after the order date, counted per priority. Catalyst
    decorrelates the EXISTS into a left-semi join on orderkey (SURVEY.md §4
    'subquery decorrelation built-in')."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ex")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_ex")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_ex o
        WHERE EXISTS (
            SELECT 1 FROM lineitem_ex l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


LATE_SHIPMENT_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def supplier_part_brand_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: grouped COUNT(DISTINCT suppkey) over a multi-column
    key with a dim exclusion filter — the distinct-agg-per-group pattern at
    a wider key than ref Q2. Two-shuffle exact distinct (key+suppkey, then
    key); part broadcasts."""
    p = read_table(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#1")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SUPPLIER_PART_ORACLE = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
GROUP BY p_brand, p_size
"""


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar-aggregate subquery (global
    positive-balance average) + correlated NOT EXISTS (no recent orders),
    rolled up per nation. The scalar average uses the decimal-sum trick so
    the threshold double is identical cross-engine (a native avg() is
    accumulation-order-dependent)."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_ir")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ir")
    return spark.sql(
        """
        SELECT c_nationkey, count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        FROM customer_ir c
        WHERE c_acctbal > (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            FROM customer_ir WHERE c_acctbal > 0.0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders_ir o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP_NTZ '1999-01-01 00:00:00'
        )
        GROUP BY c_nationkey
        """
    )


IDLE_RICH_ORACLE = """
SELECT c_nationkey, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
WHERE c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
    FROM customer WHERE c_acctbal > 0.0
)
AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
)
GROUP BY c_nationkey
"""


# -------------------------------------------------- window-function breadth

def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking/distribution window functions (SURVEY.md §2.5
    'exposed unchanged'): ntile / percent_rank / cume_dist / first_value /
    nth_value per priority partition. Full-partition frames pinned
    explicitly — first/nth_value under the default running frame would be
    row-order-dependent. Output bounded by orderkey for the driver compare."""
    o = read_table(spark, sf_dir, "orders")
    order = [F.desc("o_totalprice"), F.asc("o_orderkey")]
    w = Window.partitionBy("o_orderpriority").orderBy(*order)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("price_quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume_dist"),
            F.first_value(F.col("o_orderkey")).over(wf).alias("top_orderkey"),
            F.nth_value(F.col("o_orderkey"), 3).over(wf).alias("third_orderkey"),
        )
        .where(F.col("o_orderkey") < 2000)
    )


WINDOW_RANK_ORACLE = """
SELECT o_orderkey, o_orderpriority, price_quartile, pct_rank, cume_dist,
       top_orderkey, third_orderkey
FROM (
  SELECT o_orderkey, o_orderpriority,
         CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume_dist,
         first_value(o_orderkey) OVER wf AS top_orderkey,
         nth_value(o_orderkey, 3) OVER wf AS third_orderkey
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey),
         wf AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
) t
WHERE o_orderkey < 2000
"""


def rolling_revenue_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, each order's trailing-90-day spend
    (interval range frame over event time — the time-series rolling-sum
    surface). RANGE includes date peers, so ties contribute symmetrically
    and the result is order-independent; the decimal sum keeps it exact."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_roll")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS spend_90d
        FROM orders_roll
        WHERE o_custkey < 200
        """
    )


ROLLING_90D_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS spend_90d
FROM orders
WHERE o_custkey < 200
"""


# ------------------------------------------------ array / map / scalar fns

def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column aggregation via explode → codegen'd hash aggregate (the
    fast path for array math — higher-order functions are interpreted; see
    operators/similarity.py scale notes). Exact decimal sums make L2/mean
    cross-engine-deterministic."""
    emb = read_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (
        emb.select("vec_id", F.explode("embedding").alias("x"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("dim"),
            F.round(
                F.sqrt(F.sum((x * x).cast("decimal(38,20)")).cast("double")), 6
            ).alias("l2_norm"),
            F.round(
                F.sum(x.cast("decimal(28,18)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_val"),
            F.max(x).alias("max_val"),
        )
    )


EMBEDDING_NORM_ORACLE = """
SELECT vec_id, CAST(count(*) AS INTEGER) AS dim,
       round(sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)), 6) AS l2_norm,
       round(CAST(sum(CAST(x AS DECIMAL(28,18))) AS DOUBLE) / count(*), 6) AS mean_val,
       max(x) AS max_val
FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)
GROUP BY vec_id
"""


def map_props_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column function surface (SURVEY.md §2.8 'exposed unchanged'):
    JSON → map<string,int>, then map_keys / size / lookup. try_element_at
    (not element_at) so a missing key is NULL instead of an ANSI error."""
    ev = read_table(spark, sf_dir, "events")
    props = F.from_json(F.col("props"), "map<string,int>")
    return (
        ev.where(F.col("event_id") < 500)
        .select(
            "event_id",
            F.size(props).alias("n_keys"),
            F.concat_ws(",", F.map_keys(props)).alias("keys_csv"),
            F.try_element_at(props, F.lit("k")).alias("k_val"),
        )
    )


MAP_PROPS_ORACLE = """
SELECT event_id,
       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
       array_to_string(json_keys(props), ',') AS keys_csv,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_val
FROM events
WHERE event_id < 500
"""


def string_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function breadth (F3 key manipulation and beyond):
    case, substring, pad, concat_ws, reverse, translate, substring_index,
    levenshtein — all codegen'd JVM expressions."""
    c = read_table(spark, sf_dir, "customer")
    return (
        c.where(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            F.upper("c_name").alias("name_upper"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
            F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
            F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
            F.translate("c_name", "#0", "_O").alias("name_translated"),
            F.substring_index("c_name", "#", -1).alias("name_id_part"),
            F.levenshtein("c_name", F.lit("Customer#000000001")).alias("lev_to_first"),
        )
    )


STRING_SUITE_ORACLE = """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       substring(c_name, 1, 8) AS name_prefix,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
       concat_ws('-', c_mktsegment, c_name) AS seg_name,
       reverse(c_mktsegment) AS seg_rev,
       translate(c_name, '#0', '_O') AS name_translated,
       split_part(c_name, '#', 2) AS name_id_part,
       CAST(levenshtein(c_name, 'Customer#000000001') AS INTEGER) AS lev_to_first
FROM customer
WHERE c_custkey < 200
"""


def date_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date-function breadth (F1/F5 neighborhood): extraction fields,
    day arithmetic, month arithmetic with end-of-month clamping, last_day.
    dayofweek normalized to Spark's 1=Sunday convention in the oracle."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dom"),
            F.dayofweek("o_orderdate").alias("dow"),
            F.datediff(
                "o_orderdate", F.lit("1995-01-01").cast("date")
            ).alias("days_since_epoch95"),
            F.last_day("o_orderdate").alias("month_end"),
            F.add_months("o_orderdate", 3).alias("plus_3mo"),
        )
    )


DATE_SUITE_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            AS INTEGER) AS days_since_epoch95,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3mo
FROM orders
WHERE o_orderkey < 1000
"""


# ---------------------------------- deterministic pipeline-operator variants

def hash_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling — the reproducible alternative to
    TABLESAMPLE for pipeline subsetting (same rows on every engine, every
    run, any partitioning): keep doc where md5(doc_id) mod 10 == 0 (~10%).
    The hex→bigint bridge (15 hex digits = 60 bits, sign-safe) is the
    cross-engine-portable hash used by the portable MinHash below too."""
    d = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 10
    )
    return d.where(bucket == 0).select("doc_id", "lang", "source")


HASH_SAMPLE_ORACLE = """
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
"""


def doc_regex_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token-count estimate: count regex matches of
    word-or-number-or-punct units (the standard pre-tokenizer shape) —
    a closer LLM-token proxy than whitespace splitting. regexp_count is a
    codegen'd JVM expression; the pattern sticks to ASCII classes shared
    by Java and RE2 regex dialects."""
    d = read_table(spark, sf_dir, "documents")
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(pat)).alias("n_units"),
        (
            F.regexp_count(F.col("text"), F.lit(pat)).cast("double")
            / F.size(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("units_per_word"),
    )


REGEX_TOKEN_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
            AS INTEGER) AS n_units,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
            AS DOUBLE)
         / len(regexp_split_to_array(trim(text), '\s+')) AS units_per_word
FROM documents
"""


def _portable_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc 8-seed portable MinHash signature (columns m0..m7) — the
    signature stage of :func:`_portable_minhash_pairs`, exposed so the
    estimator-quality audit (workload_ext13) can compare signature
    agreement against exact Jaccard on the same hash family."""
    t = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    t = t.select(
        "doc_id",
        "tok",
        F.lead("tok", 1).over(w).alias("t1"),
        F.lead("tok", 2).over(w).alias("t2"),
    )
    sh = (
        t.where(F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("s"))
        .distinct()
    )
    mins = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{seed}|"), F.col("s"))), 1, 15),
                16,
                10,
            ).cast("bigint")
        ).alias(f"m{seed}")
        for seed in range(8)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def _portable_minhash_pairs(docs: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """Candidate-pair core of :func:`minhash_lsh_portable` (shared with the
    portable cluster query). Pass a pre-materialized ``sig`` (e.g. a
    localCheckpoint of :func:`_portable_signatures`) to share ONE run of
    the signature pipeline across this self-join and any other consumer —
    the estimator audit otherwise re-derives signatures up to 4×."""
    if sig is None:
        sig = _portable_signatures(docs)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.col(f"m{2 * b}").alias("v1"),
            F.col(f"m{2 * b + 1}").alias("v2"),
        )
        for b in range(4)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band", "b.v1", "b.v2")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )


#: Session-scoped DataFrame memos (see ``memo.session_key``). Bounded so
#: long-lived processes sweeping many sf_dirs (tools/robustness_sweeps.py)
#: release checkpoint RDDs to the ContextCleaner instead of pinning them.
_PORTABLE_SIG_CACHE = Memo(8)


def portable_signatures_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, localCheckpoint-materialized portable MinHash signature
    table over the standard documents fixture — the signature pipeline
    (tokenize → window lead shingles → distinct → 8 md5 min-aggregates)
    is the shared front of minhash_lsh_portable, near_dup_pipeline_portable,
    the cluster queries (via portable_components), and the estimator
    audit; without the cache one bench/driver session re-runs it ~5×.
    Same keying and staleness argument as ``portable_components``:
    (applicationId, sf_dir), immutable testdata
    directories. ONLY for the standard corpus — callers with filtered/
    synthetic doc frames keep building signatures directly."""

    def build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return _portable_signatures(docs).localCheckpoint(eager=True)

    return _PORTABLE_SIG_CACHE.get(session_key(spark, sf_dir), build)


_PORTABLE_COMPONENTS_CACHE = Memo(8)


def portable_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (node, component) table over the portable-MinHash candidate
    pairs — the pair-generation + iterative-closure stages are shared by
    ``near_dup_clusters_portable``, ``near_dup_keep_best`` and the split/
    leakage queries, so recomputing them per query would run the same
    multi-round join four times in one bench/driver session.

    ``connected_components`` returns a ``localCheckpoint``-backed frame
    (materialized once, lineage truncated), so caching the DataFrame object
    is full reuse: later actions read the checkpointed partitions instead of
    re-running the propagation loop. Keyed by (applicationId, sf_dir);
    testdata directories are immutable so live entries never go stale."""
    from nbi_oedi_etl_spark.operators import dedup

    def build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return dedup.connected_components(
            _portable_minhash_pairs(docs, sig=portable_signatures_cached(spark, sf_dir))
        )

    return _PORTABLE_COMPONENTS_CACHE.get(session_key(spark, sf_dir), build)


def minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates with a CROSS-ENGINE-PORTABLE hash
    family (md5 hex → bigint), value-hash-checked against a DuckDB twin —
    the oracle-checked proof of the LSH banding logic that the fast
    xxhash64 production path (operators/dedup.py, rows-only) can't give.

    8 hashes × 4 bands × 2 rows/band over distinct 3-gram shingles. Same
    shape as the production operator: codegen'd tokenize → window lead →
    per-doc min-aggregate → band self-join on (band, v1, v2); md5-per-seed
    is ~4× the hashing cost of xxhash64, which is why it's the parity
    variant, not the default."""
    return _portable_minhash_pairs(
        read_table(spark, sf_dir, "documents"),
        sig=portable_signatures_cached(spark, sf_dir),
    )


MINHASH_PORTABLE_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
  FROM d
), hs AS (
  SELECT doc_id, seed,
         min(('0x' || substring(md5(seed::VARCHAR || '|' || s), 1, 15))::BIGINT) AS m
  FROM sh, range(8) t(seed)
  GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(m ORDER BY seed) AS sig FROM hs GROUP BY doc_id
), b AS (
  SELECT doc_id, band, sig[2*band+1] AS v1, sig[2*band+2] AS v2
  FROM sig, range(4) t(band)
)
SELECT DISTINCT a.doc_id AS doc_id_a, b2.doc_id AS doc_id_b
FROM b a JOIN b b2 ON a.band = b2.band AND a.v1 = b2.v1 AND a.v2 = b2.v2
                   AND a.doc_id < b2.doc_id
"""


def near_dup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters over the PORTABLE MinHash candidate pairs — the full
    pipeline tail (pairs → iterative connected components → cluster
    summary) value-hash-checked cross-engine: Spark's distributed min-label
    propagation (operators/dedup.py connected_components) must equal
    DuckDB's recursive-CTE transitive closure. This is the oracle proof of
    the closure algorithm the xxhash-seeded ``near_dup_clusters`` (rows-
    only) can't give."""
    from nbi_oedi_etl_spark.operators import dedup

    docs = read_table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(
        docs,
        _portable_minhash_pairs(docs, sig=portable_signatures_cached(spark, sf_dir)),
        components=portable_components(spark, sf_dir),
    )


def near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters over the portable MinHash pairs via the THIRD closure
    strategy: alternating large-star/small-star (operators/dedup.py
    connected_components_star, Kiveris et al. SoCC'14) — O(log diameter)
    rounds vs min-label propagation's O(diameter), the 100 TB fallback for
    adversarial chain-shaped duplicate graphs. Shares
    CLUSTERS_PORTABLE_ORACLE with the min-label and recursive-SQL variants:
    three independent distributed algorithms, one value-hash-checked
    answer."""
    from nbi_oedi_etl_spark.operators import dedup

    docs = read_table(spark, sf_dir, "documents")
    pairs = _portable_minhash_pairs(
        docs, sig=portable_signatures_cached(spark, sf_dir)
    )
    return dedup.dedup_clusters(
        docs, pairs, components=dedup.connected_components_star(pairs)
    )


CLUSTERS_PORTABLE_ORACLE = r"""
WITH RECURSIVE d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
  FROM d
), hs AS (
  SELECT doc_id, seed,
         min(('0x' || substring(md5(seed::VARCHAR || '|' || s), 1, 15))::BIGINT) AS m
  FROM sh, range(8) t(seed) GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(m ORDER BY seed) AS sig FROM hs GROUP BY doc_id
), bnd AS (
  SELECT doc_id, band, sig[2*band+1] AS v1, sig[2*band+2] AS v2
  FROM sig, range(4) t(band)
), pairs AS (
  SELECT DISTINCT a.doc_id AS u, b2.doc_id AS v
  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.v1 = b2.v1 AND a.v2 = b2.v2
                         AND a.doc_id < b2.doc_id
), e AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
)
SELECT component, CAST(count(*) AS BIGINT) AS cluster_size,
       min(node) AS canonical_doc_id
FROM (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u)
GROUP BY component
HAVING count(*) > 1
"""


# ----------------------------------------------------------- UDTF surface

def char_stats_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) + LATERAL join — the 1→N user-pluggable
    row expander (SURVEY.md §2.10: the reference's transform slot is a
    TODO; UDTFs are the Spark-4 shape of it). Emits 3 char-class count rows
    per document. Counts use explicit ASCII ranges so the Python side and
    the oracle's regex char classes agree on any input."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="kind: string, cnt: int")
    class CharStats:
        def eval(self, text: str):
            if text is None:
                return
            letters = sum(1 for c in text if "a" <= c <= "z" or "A" <= c <= "Z")
            digits = sum(1 for c in text if "0" <= c <= "9")
            yield "letters", letters
            yield "digits", digits
            yield "spaces", text.count(" ")

    spark.udtf.register("char_stats", CharStats)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.kind, s.cnt
        FROM documents_udtf d, LATERAL char_stats(d.text) s
        """
    )


CHAR_STATS_ORACLE = """
SELECT doc_id, 'letters' AS kind,
       CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
            AS INTEGER) AS cnt
FROM documents
UNION ALL
SELECT doc_id, 'digits',
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
            AS INTEGER)
FROM documents
UNION ALL
SELECT doc_id, 'spaces',
       CAST(length(text) - length(replace(text, ' ', '')) AS INTEGER)
FROM documents
"""


def embedding_near_dup_exact_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs on a bounded subset (vec_id < 100
    all-pairs, threshold on the ROUNDED similarity so the boundary is
    engine-stable) — the oracle-checked verification tier of the embedding
    near-dup pipeline. The LSH-bucketed candidate generator
    (embedding_cosine_near_dup) stays the 100 TB path; this proves the pair
    semantics it approximates. Same HOF-cosine fold order as
    embedding_topk_cosine (bit-exact vs DuckDB list_cosine_similarity)."""
    from nbi_oedi_etl_spark.operators import similarity

    emb = read_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    a = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").cast("array<double>").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").cast("array<double>").alias("eb"),
    )
    pairs = a.crossJoin(b).where(F.col("vec_id_a") < F.col("vec_id_b"))
    sim = F.round(similarity.cosine(F.col("ea"), F.col("eb")), 6)
    return pairs.select("vec_id_a", "vec_id_b", sim.alias("cos_sim")).where(
        F.col("cos_sim") >= 0.3
    )


EMBEDDING_NEAR_DUP_EXACT_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE vec_id < 100
)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.3
"""


def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window count as a STREAMING aggregation (complete-mode
    drain, availableNow) — shares the batch sliding-window oracle: the
    drained window state must equal the batch group-by exactly. Overlapping
    windows mean each event updates two state rows; the watermark-less
    complete mode keeps every window (the batch-parity semantics; append
    mode with a watermark is the continuous-ingest variant)."""
    import tempfile

    from nbi_oedi_etl_spark.streaming import ingest

    s = ingest.scoped_streaming_session(spark)
    stream = ingest.events_file_stream(s, sf_dir)
    agg = stream.groupBy(F.window("ts", "2 hours", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    q = ingest.run_available_now(agg, tempfile.mkdtemp(), queue_name="stream_sliding")
    q.awaitTermination()
    return s.table("stream_sliding").select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"), "n_events"
    )


def simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 60-bit SimHash (md5 hex → bigint per 2-gram shingle,
    frequency-weighted bit tallies) with prefix buckets, value-hash-checked
    against a DuckDB twin — completes the oracle-checked dedup tier set
    (exact / MinHash-LSH / Jaccard / closure / embedding-cosine / SimHash).
    Same two-phase shape as the xxhash64 production path
    (operators/dedup.py simhash_buckets): codegen'd shingle hashing → 60
    conditional tally SUMs in ONE hash aggregate (one shuffled row per doc)
    → sign-bit recombination. 60 bits keeps every value positive, so no
    sign-bit special case on either engine."""
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    t = t.select(
        "doc_id", "tok", F.lead("tok", 1).over(w).alias("t1")
    ).where(F.col("t1").isNotNull())
    h = F.conv(
        F.substring(F.md5(F.concat_ws(" ", "tok", "t1")), 1, 15), 16, 10
    ).cast("bigint")
    sh = t.select("doc_id", h.alias("h"))
    tallies = sh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(60)
        ]
    )
    simhash = None
    for i in range(60):
        wgt = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = wgt if simhash is None else simhash + wgt
    return tallies.select("doc_id", simhash.alias("simhash")).withColumn(
        "bucket", F.shiftright(F.col("simhash"), 44)
    )


SIMHASH_PORTABLE_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(len(toks) - 1),
             i -> toks[i+1] || ' ' || toks[i+2])) AS s
  FROM d
), hs AS (
  SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM sh
), tal AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS t
  FROM hs, range(60) r(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN t > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
         AS simhash,
       CAST(sum(CASE WHEN t > 0 THEN (1::BIGINT << b) ELSE 0 END) >> 44 AS BIGINT)
         AS bucket
FROM tal GROUP BY doc_id
"""


def order_rollup_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection/argmax aggregate surface: per customer the SORTED order-key
    list (sort_array makes collect_list deterministic — raw collect order is
    partition-dependent), its CSV form, and max_by/min_by keyed on a
    strictly-unique decimal ordering value (price ties broken by orderkey,
    exactly — a raw max_by on price alone would be engine-defined on ties).

    The sorted collect_list is surfaced only in its string form (orderkeys_csv)
    because the driver's pandas canonicalizer cannot sort raw array columns
    (unhashable type: list) — every declared output column must be scalar."""
    o = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    ordv = (
        F.col("o_totalprice").cast("decimal(18,2)") * 1000000 + F.col("o_orderkey")
    )
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"), ","
        ).alias("orderkeys_csv"),
        F.max_by("o_orderkey", ordv).alias("priciest_order"),
        F.min_by("o_orderkey", ordv).alias("cheapest_order"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORDER_ROLLUP_ORACLE = """
SELECT o_custkey,
       string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey) AS orderkeys_csv,
       arg_max(o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 + o_orderkey)
         AS priciest_order,
       arg_min(o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 + o_orderkey)
         AS cheapest_order,
       count(*) AS n_orders
FROM orders
WHERE o_custkey < 300
GROUP BY o_custkey
"""


def event_bitwise_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface (bit_and / bit_or / bit_xor) — order-
    independent by algebra, so no determinism tricks needed."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("event_id").alias("ids_and"),
        F.bit_or("event_id").alias("ids_or"),
        F.bit_xor("event_id").alias("ids_xor"),
        F.count(F.lit(1)).alias("n"),
    )


EVENT_BITWISE_ORACLE = """
SELECT event_type,
       bit_and(event_id) AS ids_and,
       bit_or(event_id) AS ids_or,
       bit_xor(event_id) AS ids_xor,
       count(*) AS n
FROM events
GROUP BY event_type
"""


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-upsert / snapshot-compaction shape: latest event per user
    (operators/dedup.py latest_by_key) — the "latest document version
    wins" primitive of an incrementally-crawled corpus. One shuffle on
    the key; WindowGroupLimit pre-prunes map-side (plan-asserted)."""
    from nbi_oedi_etl_spark.operators import dedup

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return dedup.latest_by_key(
        ev, keys=["user_id"], order_col="ts", tiebreaks=["event_id"]
    )


LATEST_EVENT_ORACLE = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: per-language deterministic hash sampling with
    per-stratum rates (downsample the dominant 'en', keep more of the
    rest) — the standard language-balancing step before LLM training.
    Pure scan+filter: no shuffle, no seed state, same rows on any engine
    or partitioning (md5→bigint bridge, see hash_sample_documents)."""
    d = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 10
    )
    rate = (
        F.when(F.col("lang") == "en", 2)
        .when(F.col("lang").isin("zh", "es"), 5)
        .otherwise(8)
    )
    return d.where(bucket < rate).select("doc_id", "lang", "source")


STRATIFIED_SAMPLE_ORACLE = """
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10
      < CASE WHEN lang = 'en' THEN 2
             WHEN lang IN ('zh','es') THEN 5
             ELSE 8 END
"""

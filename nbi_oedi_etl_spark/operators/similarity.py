"""Embedding similarity search (SURVEY.md §2.12).

Two tiers:
- **brute-force top-k cosine**: broadcast the (small) query set against the
  corpus; per-row dot products via zip_with/aggregate (JVM higher-order
  functions, no UDF); per-query top-k via window rank (WindowGroupLimit keeps
  only k rows per partition).
- **LSH-bucketed (random hyperplane / sign-LSH)**: hash every vector to a
  b-bit signature via random hyperplanes; candidates = same-bucket pairs;
  exact cosine re-ranked only within buckets. Scale path: the corpus shuffle
  key is the bucket id, so a 100 TB corpus never all-pairs-joins. Recall is
  tuned by (num_tables, hyperplanes_per_table).

Precision discipline: embeddings are float32 on disk; all math is done after
casting to double so results are reproducible against external oracles.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from nbi_oedi_etl_spark.operators._util import ensure_parallelism, fast_lit


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with the two norms PRE-materialized per side row
    (r14, guide §2.3): in a pair join the norms are pair-independent, so
    the inline form re-folds each side's norm once per CANDIDATE PAIR —
    2/3 of the per-pair flops. Callers compute ``na``/``nb`` with
    ``_norm`` in a projection BEFORE the join; the division then uses
    the SAME doubles the inline form would produce (identical fold over
    identical operands), so results are bit-identical — pinned by the
    ANN oracle parity suite."""
    return _dot(a, b) / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small enough to broadcast (it is replicated to every
    corpus partition — the corpus itself never shuffles until the final
    per-query top-k, which moves only candidate rows thanks to
    WindowGroupLimit's partial top-k below the shuffle).
    Output: (query_id, vec_id, cos_sim rounded to 6, rank).
    """
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("emb")
    ).withColumn("_cn", _norm(F.col("emb")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_emb"),
    ).withColumn("_qn", _norm(F.col("q_emb")))
    pairs = c.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    sims = pairs.select(
        "query_id",
        "vec_id",
        _cosine_prenormed(
            F.col("emb"), F.col("q_emb"), F.col("_cn"), F.col("_qn")
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("sim", 6).alias("cos_sim"), "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side, tiny — broadcast as
    literals into the plan)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def multitable_signlsh_buckets(
    vec: Column, planes: list[list[float]], n_tables: int, bits_per_table: int
) -> Column:
    """Multi-table sign-LSH: array<long> of ``n_tables`` bucket ids per
    vector, all from ONE numpy matmul per Arrow batch (batch × dim) @
    (dim × n_tables·bits)."""
    plane_mat = np.asarray(planes, dtype=np.float64).T  # dim × (tables*bits)
    powers = 2 ** np.arange(bits_per_table, dtype=np.int64)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        bits = ((mat @ plane_mat) >= 0.0).reshape(len(v), n_tables, bits_per_table)
        ids = bits @ powers  # len × n_tables
        return pd.Series(list(ids))

    return _buckets(vec)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_tables: int = 4,
    bits_per_table: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: a corpus vector is scored
    only if it shares a bucket with the query in ANY of the ``n_tables``
    hash tables — equi-joins on (table_id, bucket) instead of a cross join,
    with recall 1-(1-p^bits)^tables instead of p^bits of a single table.

    At 100 TB: the corpus is bucketed once (persistable partitioned by
    (table_id, bucket)); the per-query probe moves only same-bucket
    candidates; exact cosine re-ranks candidates only. All bucket ids come
    from one vectorized numpy matmul per Arrow batch."""
    planes = random_hyperplanes(dim, n_tables * bits_per_table, seed)
    bucket_col = lambda c: multitable_signlsh_buckets(  # noqa: E731
        c, planes, n_tables, bits_per_table
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("emb")
    ).select(
        "vec_id",
        "emb",
        _norm(F.col("emb")).alias("_cn"),
        F.posexplode(bucket_col(F.col("emb"))).alias("table_id", "bucket"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_emb"),
    ).select(
        "query_id",
        "q_emb",
        _norm(F.col("q_emb")).alias("_qn"),
        F.posexplode(bucket_col(F.col("q_emb"))).alias("table_id", "bucket"),
    )
    cand = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _rank_topk(
        cand.select(
            "query_id",
            "vec_id",
            _cosine_prenormed(
                F.col("emb"), F.col("q_emb"), F.col("_cn"), F.col("_qn")
            ).alias("sim"),
        ),
        k,
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    bits_per_table: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) for all
    candidate pairs with cosine ≥ threshold (the 5th dedup tier next to
    exact/minhash/simhash/ngram — catches semantic dups that share no
    tokens).

    Candidates come from a multi-table sign-LSH self-join on
    (table_id, bucket) — never all-pairs; the bucketed self-join's two sides
    are identical subplans so the signature exchange is computed once
    (ReusedExchange). Exact cosine filters candidates to ≥ threshold."""
    planes = random_hyperplanes(dim, n_tables * bits_per_table, seed)
    b = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("emb")
    ).select(
        "vec_id",
        "emb",
        _norm(F.col("emb")).alias("_n"),
        F.posexplode(
            multitable_signlsh_buckets(F.col("emb"), planes, n_tables, bits_per_table)
        ).alias("table_id", "bucket"),
    )
    a, c = b.alias("a"), b.alias("b")
    cand = (
        a.join(
            c,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.emb").alias("emb_a"),
            F.col("b.emb").alias("emb_b"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(
                _cosine_prenormed(
                    F.col("emb_a"), F.col("emb_b"), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _rank_topk(sims: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("sim", 6).alias("cos_sim"), "rank")
    )


def ivf_codebook(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> "np.ndarray | None":
    """Deterministic coarse codebook: unit-norm centroids (dim × cells)
    drawn as a hash-ordered sample of the corpus — one small top-k job (a
    k-means refinement pass could replace this without changing any plan
    shape). Returns None for an empty corpus. Shared by the in-memory
    ``ivf_topk`` and the at-rest ``operators/ivf_layout`` forms, so the
    two assign byte-identical cells by construction."""
    rows = (
        corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .orderBy(F.xxhash64(F.col("id"), F.lit(seed)))
        .limit(n_cells)
        .collect()
    )
    if not rows:
        return None
    cent = np.asarray([r["v"] for r in rows], dtype=np.float64)
    return (cent / np.linalg.norm(cent, axis=1, keepdims=True)).T  # dim×cells


def ivf_cell_udf(cent_unit: "np.ndarray"):
    """Pandas UDF assigning each vector its max-cosine centroid's cell —
    one numpy matmul per Arrow batch, map-only (the row's norm doesn't
    change the argmax)."""

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        sims = mat @ cent_unit
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return _cell


def probe_cells(mat: "np.ndarray", cent_unit: "np.ndarray", n_probe: int) -> "np.ndarray":
    """rows × n_probe nearest-cell ids — the single definition of the IVF
    probe math, shared by ``ivf_probe_udf`` (executor side) and
    ``ivf_layout.probe_ivf_layout`` (driver side, over the collected query
    batch), so the two probe forms cannot drift."""
    sims = mat @ cent_unit
    return np.argsort(-sims, axis=1)[:, :n_probe].astype("int32")


def ivf_probe_udf(cent_unit: "np.ndarray", n_probe: int):
    """Pandas UDF mapping each query vector to its ``n_probe`` nearest
    cells (array<int>)."""

    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        return pd.Series(list(probe_cells(mat, cent_unit, n_probe)))

    return _probe


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    1. **Coarse codebook**: ``ivf_codebook`` (hash-ordered sample).
    2. **Assign**: ``ivf_cell_udf`` — map-only.
    3. **Probe**: each query explodes to its ``n_probe`` nearest cells;
       the equi-join on cell id moves only probed-cell candidates.
    4. Exact cosine re-rank of candidates (same tail as LSH).

    At 100 TB the corpus is written partitioned by ``cell`` once
    (``operators/ivf_layout``, sharing these exact codebook/assignment
    helpers), making every later probe a partition-pruned scan instead of
    a full pass; the codebook is O(n_cells × dim) — driver-trivial."""
    cent_unit = ivf_codebook(corpus, n_cells, id_col, vec_col, seed)
    if cent_unit is None:  # empty corpus → no cells, no candidates
        return (
            corpus.select(
                F.col(id_col).alias("query_id"),
                F.col(id_col).alias("vec_id"),
                F.lit(0.0).alias("cos_sim"),
                F.lit(0).alias("rank"),
            )
            .where(F.lit(False))
        )
    c = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("emb"),
        )
        .withColumn("_cn", _norm(F.col("emb")))
        .withColumn("cell", ivf_cell_udf(cent_unit)(F.col("emb")))
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_emb"),
    ).select(
        "query_id",
        "q_emb",
        _norm(F.col("q_emb")).alias("_qn"),
        F.explode(ivf_probe_udf(cent_unit, n_probe)(F.col("q_emb"))).alias("cell"),
    )
    cand = c.join(F.broadcast(q), "cell").where(F.col("vec_id") != F.col("query_id"))
    return _rank_topk(
        cand.select(
            "query_id",
            "vec_id",
            _cosine_prenormed(
                F.col("emb"), F.col("q_emb"), F.col("_cn"), F.col("_qn")
            ).alias("sim"),
        ),
        k,
    )


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean distance with the same sequential fold DuckDB's
    list_distance uses (index order), so results are oracle-comparable."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def kmeans_assignment_step(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """One Lloyd-iteration ASSIGNMENT step: each vector to its nearest
    centroid (argmin L2, ties to the lowest centroid id).

    This is the inner loop of k-means / IVF training at scale: centroids
    (k rows) broadcast; the corpus never shuffles — the argmin is a
    per-row reduction over the broadcast side, here expressed as a
    cross-join + WindowGroupLimit-pruned rank so the whole step is
    JVM-side. The UPDATE step (new centroid = per-cluster mean) is one
    groupBy over this output; iterating the pair is driver-side control
    flow, the idiomatic Spark shape for bounded-iteration refinement.

    Output: (vec_id, centroid_id, distance) — distance rounded to 6.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    cent = centroids.select(
        F.col(centroid_id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("c_emb"),
    )
    dists = (
        ensure_parallelism(c)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "centroid_id",
            l2_distance(F.col("emb"), F.col("c_emb")).alias("dist"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", F.round("dist", 6).alias("distance"))
    )


# ---------------------------------------------- product quantization
# Shared PQ primitives — ONE definition used by both the oracled workload
# specs (workload_ext36) and the at-rest IVF-PQ layout
# (operators/ivf_layout.py), the dedup.band_rows single-definition
# precedent. Every stage is deterministic and cross-engine exact: the
# init is the k smallest ids' subvectors, the Lloyd update is the
# DECIMAL(18,9)-mean recipe, distances use the l2_distance index-order
# fold proven bit-equal to DuckDB's list_distance.

def pq_subvectors(
    df: DataFrame,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """(vec_id, sub, semb): each vector split into ``m`` contiguous
    ``dsub``-dim subvectors. One narrow projection — no shuffle."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" s -> slice(`{vec_col}`, s * {dsub} + 1, {dsub}))"
            )
        ).alias("sub", "semb"),
    )


def pq_assign(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-subspace nearest-code assignment (argmin L2, ties to the
    lowest code id). The codebook (m·k rows) broadcasts; the corpus side
    is a per-row reduction, JVM-side end to end. Output keeps the input
    columns plus (code, dist)."""
    d = subs.join(F.broadcast(codebook), "sub").select(
        *[F.col(c) for c in subs.columns],
        "code",
        l2_distance(F.col("semb"), F.col("c_emb")).alias("dist"),
    )
    w = Window.partitionBy("vec_id", "sub").orderBy(F.asc("dist"), F.asc("code"))
    return (
        d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )


PQ_CODEBOOK_SCHEMA = StructType(
    [
        StructField("sub", IntegerType()),
        StructField("code", LongType()),
        StructField("c_emb", ArrayType(DoubleType())),
    ]
)


def pq_codebook_update(assigned: DataFrame) -> DataFrame:
    """The Lloyd UPDATE step per (sub, code): per-dimension DECIMAL(18,9)
    mean (order-independent) with one double division — the proven
    cross-engine-exact arithmetic. Input: pq_assign output."""
    dims = assigned.select("sub", "code", F.posexplode("semb").alias("d", "val"))
    return (
        dims.groupBy("sub", "code", "d")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("sub", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda x: x["m"],
            ).alias("c_emb")
        )
    )


def pq_train_codebook(
    subs: DataFrame,
    k: int,
    init_ids: list | None = None,
    init_predicate: Column | None = None,
) -> DataFrame:
    """One deterministic Lloyd pass per subspace: init = the ``k``
    smallest vec_ids' subvectors (or an explicit ``init_ids`` list, or
    an ``init_predicate`` Column when the caller's init rule must match
    an oracle expression exactly — e.g. workload_ext36's
    ``vec_id < PQ_K``), assign, DECIMAL-mean update — returned as a
    literal codebook DataFrame (bounded m·k×dsub driver state, lineage
    truncated; the kmeans_lloyd_3iter posture — a deeper loop iterates
    the same pair). This is the ONE Lloyd-loop definition: the oracled
    specs and the at-rest IVF-PQ layout both train through it."""
    spark = subs.sparkSession
    if init_predicate is None:
        if init_ids is None:
            init_ids = [
                r["vec_id"]
                for r in subs.select("vec_id")
                .distinct()
                .orderBy("vec_id")
                .limit(k)
                .collect()
            ]
        init_predicate = F.col("vec_id").isin(list(init_ids))
    cb0 = subs.where(init_predicate).select(
        "sub",
        F.col("vec_id").cast("long").alias("code"),
        F.col("semb").alias("c_emb"),
    )
    a0 = _pq_assign_fast(subs.select("vec_id", "sub", "semb"), cb0)
    rows = [
        (r["sub"], r["code"], list(r["c_emb"]))
        for r in pq_codebook_update(a0).collect()
    ]
    return spark.createDataFrame(rows, PQ_CODEBOOK_SCHEMA)


def _pq_assign_fast(subs: DataFrame, cb0: DataFrame) -> DataFrame:
    """``pq_assign`` as a literal-projection argmin when the codebook
    has the init shape (contiguous subs 0..m-1, the SAME code ids in
    every sub — true by construction for ``pq_train_codebook``'s init,
    where each selected vec_id contributes all m subvectors).

    Value-identical to the join+window form: distances are the same
    ``l2_distance`` doubles over the same collected values, the
    codebook is laid out code-ascending per sub, and
    ``array_position`` of ``array_min`` takes the FIRST minimum =
    lowest code id — exactly ``orderBy(dist, code)`` row_number=1.
    What changes is the PLAN: the join form materializes N·m·k
    distance rows and shuffles them through a (vec_id, sub) window;
    this form is one whole-stage-codegen projection (k distances per
    row against a single nested-array Literal), no join, no window, no
    shuffle — at 100 TB the training pass becomes scan-bound instead
    of shuffle-bound, and at bench scale it removes the per-trigger
    plan/shuffle overhead r13 measured dominating the CDC streams.
    Falls back to ``pq_assign`` when the shape precondition doesn't
    hold (empty codebook, ragged code sets, non-contiguous subs)."""
    cb_rows = cb0.collect()  # bounded m·k driver state by contract
    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(r["sub"], []).append((r["code"], list(r["c_emb"])))
    m = len(by_sub)
    if m == 0 or sorted(by_sub) != list(range(m)):
        return pq_assign(subs, cb0)
    for s in by_sub:
        by_sub[s].sort(key=lambda t: t[0])
    codes_sorted = [c for c, _ in by_sub[0]]
    if any([c for c, _ in by_sub[s]] != codes_sorted for s in range(m)):
        return pq_assign(subs, cb0)
    cbs_all = fast_lit(
        [[emb for _, emb in by_sub[s]] for s in range(m)]
    )  # sub → code-ascending codebook matrix, ONE Literal node
    codes_lit = fast_lit(codes_sorted)
    dists = F.transform(
        F.element_at(cbs_all, F.col("sub") + 1),
        lambda c: l2_distance(F.col("semb"), c),
    )
    pos = F.array_position(dists, F.array_min(dists))
    return subs.select(
        "vec_id",
        "sub",
        "semb",
        F.element_at(codes_lit, pos.cast("int")).alias("code"),
        F.array_min(dists).alias("dist"),
    )

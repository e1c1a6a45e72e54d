"""At-rest IVF layout: the corpus written partitioned by coarse cell, so
a probe reads only its cells' files — a partition-pruned scan instead of
a full pass (SCALE.md's "at rest the corpus would be written bucketed by
cell", implemented r9).

``operators/similarity.py::ivf_topk`` is the in-memory form: codebook →
assign → probe-join, one full corpus scan per query batch. At 100 TB the
corpus does not fit a per-batch scan; this module materializes the
assignment ONCE (`write_ivf_layout`, hive-partitioned by ``cell``) and
every later probe (`probe_ivf_layout`) filters on the probed cells'
partition values — Catalyst prunes the file listing to n_probe/n_cells
of the files (PartitionFilters, plan-asserted in tests/test_plans.py).
Results are identical to ``ivf_topk`` for the same (n_cells, n_probe,
seed): both forms call the SAME ``ivf_codebook`` / ``ivf_cell_udf`` /
``ivf_probe_udf`` helpers, so equivalence is structural, not a
copy-that-must-not-drift.

Contract: the probe path collects the UNION of the query batch's probed
cells on the driver (≤ n_cells ints — metadata-scale; query batches are
broadcast-sized by construction, as in ivf_topk). The codebook is
O(n_cells × dim), returned by the writer and persistable as a tiny side
file.

Reference parity: the reference has no vector search; this is part of
the §2.12 training-data-pipeline extension (SURVEY.md), scale path.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.operators._util import fast_lit
from nbi_oedi_etl_spark.operators.banded_layout import (
    _LAYOUT_MEMO,
    _compact_partition_dirs,
    _layout_key,
    _read_meta,
    _write_meta,
)
from nbi_oedi_etl_spark.operators.similarity import (
    _rank_topk,
    ivf_cell_udf,
    ivf_codebook,
    probe_cells,
)


#: Codebook sidecar (r11): underscore-prefixed like _banded_meta.json so
#: the main parquet read never sees it. n_cells × dim doubles — a few KB
#: of JSON; the layout becomes self-describing (probe/append no longer
#: need the caller to carry the codebook).
_IVF_META_FILE = "_ivf_meta.json"


def _lit_matrix(rows) -> "F.Column":
    """ONE nested-list literal for a small codebook matrix (list/ndarray
    of rows → array<array<double>> Literal).

    The per-element form — ``F.array(*[F.array(*[F.lit(v) ...]) ...])``
    — costs one py4j round trip per scalar (a 16×16×16 PQ codebook ≈
    1k+ driver calls) and hands Catalyst a CreateArray tree it has to
    re-constant-fold on every optimization pass; profiled r14 at sf0.1,
    expression CONSTRUCTION alone was ~40 s of the IVF-PQ CDC stream's
    53 s in-batch time. The closing r14 profile showed the "single
    nested-list ``F.lit``" still expands to one gateway command per
    scalar inside PySpark (~0.3 s per matrix), so the literal is now
    rendered through ``fast_lit`` — ONE ``F.expr`` driver call whose
    parsed tree constant-folds to the identical Literal (bit-exact;
    pinned by the existing probe/encode parity tests plus the
    ``fast_lit`` bit-identity tests)."""
    if isinstance(rows, np.ndarray):
        rows = rows.tolist()
    return fast_lit([[float(v) for v in r] for r in rows])


def _write_ivf_meta(spark: SparkSession, dest: str, cent_unit: np.ndarray) -> None:
    _write_meta(
        spark,
        dest,
        {
            "n_cells": int(cent_unit.shape[1]),
            "dim": int(cent_unit.shape[0]),
            "codebook": cent_unit.tolist(),  # dim × cells, unit columns
        },
        fname=_IVF_META_FILE,
    )


def read_ivf_codebook(spark: SparkSession, path: str) -> np.ndarray:
    """The layout's own unit-centroid codebook from its sidecar."""
    m = _read_meta(spark, path, fname=_IVF_META_FILE)
    cent = np.asarray(m["codebook"], dtype=np.float64)
    if cent.shape != (m["dim"], m["n_cells"]):
        raise ValueError(f"corrupt IVF sidecar: shape {cent.shape} != "
                         f"({m['dim']}, {m['n_cells']})")
    return cent


def _layout_scan(spark: SparkSession, path: str):
    """``spark.read`` over the layout, skipping footer schema inference
    (~0.1-0.5 s per probe — the recall curves probe the same layout 4+
    times and the CDC streams once per batch) after the first read of a
    given layout. A layout's schema is fixed at write time: appends
    preserve it (the dim/type guards) and an overwrite rewrites
    ``_ivf_meta.json``, so the schema is memoized in ``_LAYOUT_MEMO``
    under that sidecar's status. File LISTING stays eager at the returned
    reader's ``.parquet`` call either way — the CDC probes rely on
    listing-before-append."""
    df = None

    def infer():
        nonlocal df
        df = spark.read.parquet(path)
        return df.schema

    schema = _LAYOUT_MEMO.get(
        _layout_key(spark, path, _IVF_META_FILE, "schema"), infer
    )
    return df if df is not None else spark.read.schema(schema).parquet(path)


def _assign_cells(
    df: DataFrame, cent_unit: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    ).withColumn("cell", ivf_cell_udf(cent_unit)(F.col("emb")))


def write_ivf_layout(
    corpus: DataFrame,
    dest: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    mode: str = "error",
    cent_unit: np.ndarray | None = None,
) -> np.ndarray:
    """Materialize the corpus hive-partitioned by IVF cell; returns the
    codebook (unit centroids, dim × cells) — also written to the
    ``_ivf_meta.json`` sidecar (r11), so probes and appends can run
    against the layout alone. One full scan ever; every later probe is
    partition-pruned. Pass ``cent_unit`` to lay out under a FIXED
    external codebook (e.g. the incremental-build equivalence test, or
    re-using a production codebook across corpus versions) instead of
    fitting one from this corpus."""
    if cent_unit is None:
        cent_unit = ivf_codebook(corpus, n_cells, id_col, vec_col, seed)
    if cent_unit is None:
        raise ValueError("empty corpus: no codebook")
    assigned = _assign_cells(corpus, cent_unit, id_col, vec_col)
    # repartition by cell before the write so each populated cell is one
    # file instead of one per upstream task (the small-files measurement
    # in tools/banded_layout_probe.py applies identically here). A hot
    # cell becomes a single write task — acceptable for the one-time
    # materialization; re-cluster n_cells upward if a cell outgrows a
    # task (the codebook is the knob, not the writer).
    assigned.repartition("cell").write.mode(mode).partitionBy("cell").parquet(dest)
    _write_ivf_meta(corpus.sparkSession, dest, cent_unit)
    return cent_unit


def append_to_ivf_layout(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance for the ANN family (r11 — the
    ``append_to_banded_layout`` counterpart): assign ``new_vectors``
    with the LAYOUT'S OWN codebook (sidecar) and append their rows into
    the partitioned layout. Standard IVF practice: the codebook stays
    FIXED across appends (probes stay consistent — a probed cell always
    means the same region).

    Drift note, MEASURED rather than assumed (r11): appending a tight
    drifted mode under the frozen codebook collapsed it into one stale
    cell — which makes that cell HOT (size/balance hazard) but did NOT
    hurt recall at small n_probe (everything relevant sits together:
    stale recall 0.91 vs 0.66 after re-clustering split the mode across
    cells at n_probe=1), and re-clustering n_cells=8 over the union
    barely changed cell purity (0.78 → 0.79). The operational trigger
    for a re-cluster is therefore CELL-SIZE imbalance (a cell outgrowing
    a task), not recall drift alone; monitor cell sizes per append and
    ``ann_recall``-style audits at the probe settings you actually run.
    Appends add one file per touched cell per batch — run
    ``compact_ivf_layout`` periodically (measured cadence maths in
    CDC_DRILL.json apply identically).

    Refuses an IVF-PQ layout (ADVICE r11): this writer emits no
    ``code_*`` columns, so appended rows would reconstruct as nulls in
    ``probe_ivf_pq_layout`` — null sims sort last and the appended
    vectors silently vanish from ADC results. PQ layouts append through
    ``append_to_ivf_pq_layout``, which encodes with the stored
    codebooks."""
    if _is_pq_layout(spark, path):
        raise ValueError(
            f"{path} is an IVF-PQ layout (_ivf_pq_meta.json present): "
            "plain appends would leave code_* null and the rows invisible "
            "to ADC probes — use append_to_ivf_pq_layout"
        )
    cent = read_ivf_codebook(spark, path)
    _assign_cells(new_vectors, cent, id_col, vec_col).repartition(
        "cell"
    ).write.mode("append").partitionBy("cell").parquet(path)


def _is_pq_layout(spark: SparkSession, path: str) -> bool:
    # EXISTENCE check through the Hadoop FS API, not a read-and-catch:
    # swallowing a transient read error on a real PQ layout as "not PQ"
    # would let the plain append through — the exact silent-null-codes
    # bug this guard exists to stop. fs.exists only errors when the
    # filesystem itself is unreachable, and then the append fails loudly.
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{_IVF_PQ_META_FILE}")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def append_to_ivf_pq_layout(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """PQ-aware incremental maintenance (VERDICT r11 task 10): assign
    ``new_vectors`` with the layout's own coarse codebook, residual
    against the assigned centroid, and encode dense codes with the
    STORED per-sub codebooks (``_pq_encode_codes`` — byte-identical
    encoding to the build path), then append per touched cell. Both
    codebooks stay FIXED across appends, same as the plain-IVF contract.
    Rejects vectors whose dimension doesn't match the sidecars (a
    mismatched batch would otherwise encode garbage codes silently)."""
    cent = read_ivf_codebook(spark, path)
    meta = read_ivf_pq_meta(spark, path)
    pq_m, dsub = meta["pq_m"], meta["pq_dsub"]
    dim = cent.shape[0]
    if pq_m * dsub != dim:
        raise ValueError(
            f"inconsistent sidecars at {path}: pq_m*dsub = {pq_m * dsub} != dim {dim}"
        )
    # Validate EVERY row, not just the first (ADVICE r12): a mixed-dim
    # batch whose head row happens to match would otherwise pass the
    # guard, and the remaining rows encode silently-garbage codes
    # (zip_with null-pads the residual and array_min skips nulls, so a
    # wrong-but-non-null code is still written). limit(1) short-circuits
    # the scan on the first offender; the clean-batch cost is one
    # column-pruned pass over CDC-batch-sized input.
    bad = (
        new_vectors.select(F.size(F.col(vec_col)).alias("d"))
        .where(F.col("d") != dim)
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"vector dim {bad[0]['d']} does not match layout dim {dim}"
        )
    assigned = _assign_cells(new_vectors, cent, id_col, vec_col)
    cent_lit = _lit_matrix(cent.T)  # cells×dim: element j = centroid j
    res = assigned.withColumn(
        "res",
        F.zip_with("emb", F.element_at(cent_lit, F.col("cell") + 1), lambda x, y: x - y),
    )
    books = meta["codebooks"]
    (
        _pq_encode_codes(res, books, pq_m, dsub)
        .drop("res")
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def compact_ivf_layout(
    spark: SparkSession,
    path: str,
    max_files_per_cell: int = 4,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """In-place per-cell compaction after CDC appends; see
    ``compact_banded_layout`` (same shared swap mechanism, probe results
    unchanged — only file packing moves)."""
    return _compact_partition_dirs(
        spark, path, "cell=", max_files_per_cell, target_file_bytes
    )


#: Dispatch threshold between the driver-side probe (collect the batch,
#: numpy probe math, static partition-pruned scan — the single-job path
#: for the broadcast-sized batches CDC probes use) and the DISTRIBUTED
#: probe (executor-side ``ivf_probe_udf`` + shuffle join against the
#: layout — no driver collect; right when the batch itself is
#: fact-scale, where the probed-cell union approaches every cell and
#: static pruning buys nothing anyway). r11: was a hard ValueError cap.
#: Measured brackets on local[32] (shared host, noisy): the driver path
#: clearly wins up to ~8k queries (3.7-11 s vs 10.6-44 s); at ~17k the
#: two sessions disagreed (driver 23.5 s vs distributed 18.3 s in one,
#: reversed magnitudes in another) — the crossover sits somewhere in
#: 8k-20k here and is host-dependent, so the default is the bracket's
#: low edge and callers pin either branch via ``driver_batch_rows``.
_MAX_PROBE_BATCH_ROWS = 16_384


def _rerank_candidates(c: DataFrame, q: DataFrame, k: int, broadcast_q: bool) -> DataFrame:
    """Shared probe tail: candidate equi-join on cell, self-exclusion
    (native compare on dtype match — ADVICE r9), exact cosine re-rank.
    The two norms are materialized per SIDE row before the join (r14 —
    same fold over the same operands as the inline cosine, so the sim
    doubles are bit-identical; the per-pair work drops to the dot)."""
    from nbi_oedi_etl_spark.operators.similarity import _cosine_prenormed, _norm

    corpus_id_t = dict(c.dtypes)["vec_id"]
    query_id_t = dict(q.dtypes)["query_id"]
    if corpus_id_t == query_id_t:
        not_self = F.col("vec_id") != F.col("query_id")
    else:
        not_self = F.col("vec_id").cast("string") != F.col("query_id").cast("string")
    c = c.withColumn("_cn", _norm(F.col("emb")))
    q = q.withColumn("_qn", _norm(F.col("q_emb")))
    qq = F.broadcast(q) if broadcast_q else q
    cand = c.join(qq, "cell").where(not_self)
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


def probe_ivf_layout(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    cent_unit: np.ndarray | None = None,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    driver_batch_rows: int | None = None,
) -> DataFrame:
    """IVF probe over the at-rest layout: per-query n_probe nearest cells,
    scan ONLY those cells' partitions (static ``cell IN (...)`` filter →
    PartitionFilters), exact cosine re-rank of the candidates. Same
    output as ``ivf_topk`` at equal knobs, with the query id column's
    NATIVE type preserved. An empty query batch yields an empty result of
    the same schema through the same single code path (the probed-cell set
    is empty, so the partition filter prunes everything).

    Pass structure (ADVICE r9 / VERDICT task 4): the query batch is
    broadcast-sized by contract, so it is collected ONCE and the probe
    math runs driver-side in numpy (``similarity.probe_cells`` — the same
    function the executor-side UDF calls, so the two probe forms cannot
    drift). The exploded (query_id, q_emb, cell) side re-enters Spark as a
    local relation; the only job that touches the layout is the pruned
    scan itself — no ``distinct().collect()`` probe job per batch.

    ``cent_unit=None`` (the r11 default) reads the codebook from the
    layout's own ``_ivf_meta.json`` sidecar — the self-describing
    contract the banded layout already has.

    Batches past ``_MAX_PROBE_BATCH_ROWS`` dispatch to the DISTRIBUTED
    branch (r11): executor-side probe math, shuffle join against the
    layout, no driver collect — identical results, pinned in
    tests/test_new_op_properties.py.
    """
    if cent_unit is None:
        cent_unit = read_ivf_codebook(spark, path)
    q_src = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_emb"),
    )
    # ONE bounded collect serves both the dispatch decision and the
    # driver branch's rows (r15, VERDICT r14 minor 4 — the old shape
    # paid an ids-only count peek AND a second full collect per probe,
    # and the recall curves probe a layout 4+ times). This is exactly
    # the fused CDC step's `_cdc_collect_batch` contract: the waste is
    # bounded at cap+1 rows shipped-then-discarded on the distributed
    # branch (~8 MB at the 64-dim fixtures, ~134 MB once at 1024-dim —
    # transient, far under the driver's result-size bound).
    cap = _MAX_PROBE_BATCH_ROWS if driver_batch_rows is None else driver_batch_rows
    rows = q_src.limit(cap + 1).collect()
    if len(rows) > cap:
        # Fact-scale batch: executor-side probe math (same probe_cells
        # via ivf_probe_udf), shuffle join against the full layout scan
        # (a batch this size probes ~every cell — static pruning is
        # moot), identical rerank tail. The peeked rows are discarded.
        from nbi_oedi_etl_spark.operators.similarity import ivf_probe_udf

        q = q_src.select(
            "query_id",
            "q_emb",
            F.explode(ivf_probe_udf(cent_unit, n_probe)(F.col("q_emb"))).alias(
                "cell"
            ),
        )
        return _rerank_candidates(
            _layout_scan(spark, path), q, k, broadcast_q=False
        )
    q, probed_cells = _probe_relation_from_rows(
        spark, rows, list(q_src.schema.fields), cent_unit, n_probe
    )
    c = _layout_scan(spark, path).where(F.col("cell").isin(probed_cells))
    return _rerank_candidates(c, q, k, broadcast_q=True)


def _probe_relation_from_rows(
    spark: SparkSession,
    rows: list,
    q_fields: list,
    cent_unit: np.ndarray,
    n_probe: int,
) -> tuple[DataFrame, list[int]]:
    """Core of ``_driver_probe_relation`` over an ALREADY-collected
    (query_id, q_emb) row list — the fused CDC step collects its batch
    once and shares the rows between the probe and append legs (guide
    §2.4: remove redundant passes), so the scaffold must not re-collect.
    ``q_fields`` are the two StructFields of the (query_id, q_emb)
    projection; rows are read positionally (index 0 = id, 1 = vector)."""
    if rows:
        mat = np.asarray([r[1] for r in rows], dtype=np.float64)
        cells = probe_cells(mat, cent_unit, n_probe)
    else:
        cells = np.empty((0, n_probe), dtype="int32")
    exploded = [
        (r[0], r[1], int(cell))
        for r, row_cells in zip(rows, cells)
        for cell in row_cells
    ]
    from pyspark.sql.types import IntegerType, StructField, StructType

    q_schema = StructType(
        list(q_fields) + [StructField("cell", IntegerType(), False)]
    )
    q = _local_relation(spark, exploded, q_schema)
    return q, sorted({int(c) for c in cells.ravel()})


def _local_relation(spark: SparkSession, data: list, schema) -> DataFrame:
    """Bounded driver rows → DataFrame via the ARROW local-relation path
    (guide §6: Arrow for driver transfers). The pickled-tuple path is
    lazy-cheap to CREATE but re-pays a row-by-row conversion in EVERY
    job that evaluates the relation — measured r15 at 0.33-1.4 s per
    job for a 2k-row embedding relation vs 0.06 s through one Arrow
    batch; a CDC batch evaluates its local relations 2-3×. Values are
    identical (same doubles/ints, no coercion: the rows just came out
    of Spark under this schema). Falls back to the tuple path (with the
    r14 verifySchema=False trusted-rows contract) if pandas/Arrow is
    unavailable."""
    try:
        import pandas as pd

        pdf = pd.DataFrame(
            {f.name: [row[i] for row in data] for i, f in enumerate(schema.fields)},
            columns=[f.name for f in schema.fields],
        )
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(data, schema, verifySchema=False)


def _cdc_collect_batch(
    spark: SparkSession,
    batch: DataFrame,
    query_id_col: str,
    vec_col: str,
) -> tuple[DataFrame, list, bool]:
    """Shared head of the fused CDC steps: project the batch to
    (query_id, q_emb) and collect it ONCE, bounded by the same
    ``limit(cap+1)`` the probe dispatch uses. Returns (projection, rows,
    oversized) — an oversized batch means the caller falls back to the
    unfused operator pair. The float64 matrix is built by each caller
    AFTER its own guards (the PQ dim guard must fire its refusal before
    numpy sees a ragged batch)."""
    q_src = batch.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_emb"),
    )
    cap = _MAX_PROBE_BATCH_ROWS
    rows = q_src.limit(cap + 1).collect()
    return q_src, rows, len(rows) > cap


def _local_assigned_relation(
    spark: SparkSession,
    rows: list,
    q_fields: list,
    cells: "np.ndarray",
) -> DataFrame:
    """(vec_id, emb, cell) LOCAL relation from the shared collected batch
    + driver-computed cell assignment — the append leg's input, replacing
    a second scan through the ``ivf_cell_udf`` pandas boundary (guide §4:
    the batch is already on the driver; re-entering Python per row buys
    nothing). Schema keeps the batch's native id type."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [
            StructField("vec_id", q_fields[0].dataType, q_fields[0].nullable),
            StructField("emb", q_fields[1].dataType, q_fields[1].nullable),
            StructField("cell", IntegerType(), False),
        ]
    )
    data = [(r[0], r[1], int(c)) for r, c in zip(rows, cells)]
    # Arrow local relation — see _local_relation (per-job conversion cost)
    return _local_relation(spark, data, schema)


def cdc_probe_append_ivf_layout(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, Callable[[], None]] | None:
    """FUSED CDC step (r14, guide §2.4/§4): probe ``batch`` against all
    PRIOR vectors in the layout, then fold the batch in — the
    ``probe_ivf_layout`` + ``append_to_ivf_layout`` pair a CDC stream
    runs per micro-batch, sharing ONE driver collect of the
    (CDC-sized-by-contract) batch between both legs. The unfused pair
    costs per batch: an isEmpty peek, the probe's dispatch peek + its
    own collect, and an append that re-scans the batch through the
    ``ivf_cell_udf`` pandas boundary plus a repartition shuffle. Fused:
    one bounded collect, probe math AND cell assignment driver-side in
    numpy (``probe_cells`` / the same ``argmax`` expression
    ``ivf_cell_udf`` evaluates — parity pinned in tests), and the append
    writes a local relation with ``coalesce(1)`` (no shuffle; same
    one-file-per-touched-cell layout shape).

    Returns ``(result, append)``: the probe result and a thunk that
    writes the append leg, or ``None`` for an empty batch (nothing
    probed, nothing to append). The probe leg resolves its file listing
    before returning, so results exclude the batch itself whenever
    ``append()`` runs — byte-identical to the unfused sequence (also
    pinned), and safe to overlap with the result's sink job
    (``workload_banded.drain_layout_cdc``). Batches past
    ``_MAX_PROBE_BATCH_ROWS`` fall back to the unfused operator pair
    (distributed probe branch; executor-side assign), whose listing
    resolves at ``_layout_scan`` by the same argument."""
    q_src, rows, oversized = _cdc_collect_batch(spark, batch, query_id_col, vec_col)
    if oversized:
        res = probe_ivf_layout(
            spark, path, batch, k=k, n_probe=n_probe,
            query_id_col=query_id_col, vec_col=vec_col,
        )
        return res, lambda: append_to_ivf_layout(
            spark, path, batch, id_col=query_id_col, vec_col=vec_col
        )
    if not rows:
        return None
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    cent_unit = read_ivf_codebook(spark, path)
    q_fields = list(q_src.schema.fields)
    q, probed = _probe_relation_from_rows(spark, rows, q_fields, cent_unit, n_probe)
    # File listing resolves HERE — before the append below lands — so the
    # probe never sees the batch's own rows (the unfused ordering). The
    # schema is declared instead of inferred: the layout stores exactly
    # (vec_id as the corpus id type, emb array<double> — _assign_cells
    # casts before the write — cell int), and skipping footer inference
    # cuts the per-batch read setup ~5× while the file listing stays
    # EAGER at this call (pinned by the fused-parity tests: a lazy
    # listing would let the probe see its own append).
    from pyspark.sql.types import IntegerType, StructField, StructType

    scan_schema = StructType(
        [
            StructField("vec_id", q_fields[0].dataType, True),
            StructField("emb", q_fields[1].dataType, True),
            StructField("cell", IntegerType(), True),
        ]
    )
    c = spark.read.schema(scan_schema).parquet(path).where(F.col("cell").isin(probed))
    res = _rerank_candidates(c, q, k, broadcast_q=True)
    # Append leg: np.argmax over the shared matrix IS ivf_cell_udf's math
    # (same matmul, same first-max tie rule). repartition("cell"), NOT
    # coalesce(1): the dynamic-partition write's cost is per
    # (task × touched-cell-dir) writer+commit overhead, and one task
    # fanning out to every cell dir measured 6–8 s for a 667-row batch
    # vs 1.4 s for hash-by-cell (each task writes exactly one dir — the
    # same one-file-per-touched-cell shape as ``append_to_ivf_layout``).
    cells = np.argmax(mat @ cent_unit, axis=1).astype("int32")
    assigned = _local_assigned_relation(spark, rows, q_fields, cells).repartition(
        "cell"
    )

    return res, lambda: assigned.write.mode("append").partitionBy("cell").parquet(path)


def cdc_probe_append_ivf_pq_layout(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, Callable[[], None]] | None:
    """Compressed-tier twin of ``cdc_probe_append_ivf_layout``: one
    bounded collect shared by the ADC probe leg and the PQ-encoding
    append leg. The encode itself stays the ``_pq_encode_codes``
    projection (expression-for-expression the build path's encoder, so
    codes cannot drift) — but evaluated over the LOCAL assigned relation
    instead of a second scan through the assign UDF, and the unfused
    pair's per-batch sidecar reads (codebook twice, PQ meta twice, the
    ``_is_pq_layout`` existence check) collapse to one read each. The
    every-row dim guard moves driver-side over the shared rows — same
    refusal contract as ``append_to_ivf_pq_layout`` (ADVICE r12), zero
    extra jobs. Returns ``(ADC probe result, append thunk)``, or ``None``
    for an empty batch — the ``cdc_probe_append_ivf_layout`` contract;
    oversized batches fall back to the unfused operator pair."""
    q_src, rows, oversized = _cdc_collect_batch(spark, batch, query_id_col, vec_col)
    if oversized:
        res = probe_ivf_pq_layout(
            spark, path, batch, k=k, n_probe=n_probe,
            query_id_col=query_id_col, vec_col=vec_col,
        )
        return res, lambda: append_to_ivf_pq_layout(
            spark, path, batch, id_col=query_id_col, vec_col=vec_col
        )
    if not rows:
        return None
    cent_unit = read_ivf_codebook(spark, path)
    meta = read_ivf_pq_meta(spark, path)
    pq_m, dsub = meta["pq_m"], meta["pq_dsub"]
    dim = cent_unit.shape[0]
    if pq_m * dsub != dim:
        raise ValueError(
            f"inconsistent sidecars at {path}: pq_m*dsub = {pq_m * dsub} != dim {dim}"
        )
    for r in rows:
        if len(r[1]) != dim:
            raise ValueError(
                f"vector dim {len(r[1])} does not match layout dim {dim}"
            )
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    q_fields = list(q_src.schema.fields)
    q, probed = _probe_relation_from_rows(spark, rows, q_fields, cent_unit, n_probe)
    code_cols = [f"code_{s}" for s in range(pq_m)]
    # Declared schema instead of footer inference (see the IVF twin):
    # vec_id keeps the batch's native id type, codes are the stored int
    # columns, cell is the partition int. The emb column is simply not
    # declared — parquet ignores file columns outside the table schema,
    # which IS the ADC column-pruning contract. Listing stays eager at
    # this call (the probe must not see its own append below).
    from pyspark.sql.types import IntegerType, StructField, StructType

    scan_schema = StructType(
        [StructField("vec_id", q_fields[0].dataType, True)]
        + [StructField(c, IntegerType(), True) for c in code_cols]
        + [StructField("cell", IntegerType(), True)]
    )
    scan = (
        spark.read.schema(scan_schema)
        .parquet(path)
        .where(F.col("cell").isin(probed))
        .select("vec_id", "cell", *code_cols)
    )
    res = _adc_rerank(
        scan, q, meta, cent_unit, k, broadcast_q=True,
        expr_key=_layout_expr_key(spark, path, _IVF_PQ_META_FILE, "adc"),
    )
    cells = np.argmax(mat @ cent_unit, axis=1).astype("int32")
    assigned = _local_assigned_relation(spark, rows, q_fields, cells)
    # residual + encode columns are layout-fixed too — memoized beside
    # the ADC tree (same sidecar key, "enc" tag)
    resid_col = _LAYOUT_MEMO.get(
        _layout_expr_key(spark, path, _IVF_PQ_META_FILE, "enc"),
        lambda: F.zip_with(
            "emb",
            F.element_at(_lit_matrix(cent_unit.T), F.col("cell") + 1),
            lambda x, y: x - y,
        ),
    )
    resid = assigned.withColumn("res", resid_col)
    encoded = (
        _pq_encode_codes(
            resid, meta["codebooks"], pq_m, dsub,
            expr_key=_layout_expr_key(spark, path, _IVF_PQ_META_FILE, "enc-codes"),
        )
        .drop("res")
        # hash-by-cell, not coalesce(1) — see cdc_probe_append_ivf_layout
        .repartition("cell")
    )

    return res, lambda: encoded.write.mode("append").partitionBy("cell").parquet(path)


# ---------------------------------------------- at-rest IVF-PQ layout
# The compressed tier of the layout: PQ codes stored as layout COLUMNS
# beside the cell partitioning, so a probe composes BOTH prunings —
# partition pruning picks which files it reads (PartitionFilters on
# `cell`, same as probe_ivf_layout) and COLUMN pruning picks which bytes
# of those files it reads (the ADC probe's ReadSchema carries only
# vec_id + the M small code ints, never the embedding column — parquet
# is columnar, so the vector pages are never fetched). At 64 float32
# dims the code columns are ~1-2 % of the embedding column's bytes
# (measured per layout by tools/ivf_pq_probe.py); at 1024-dim production
# scale the ratio is ~0.4 %. The raw vectors stay in the same files, so
# the exact tier (probe_ivf_layout) runs against the SAME layout.

_IVF_PQ_META_FILE = "_ivf_pq_meta.json"


def _pq_encode_codes(
    res: DataFrame, books: list[list[list[float]]], pq_m: int, dsub: int,
    expr_key=None,
) -> DataFrame:
    """Dense-code encode as a PURE PROJECTION over the ``res`` residual
    column: per sub, distances to the literal trained codebook;
    ``array_position`` of the min = FIRST min = lowest dense code (the
    ``similarity.pq_assign`` tie rule) — no window, no pivot, no join.
    Shared by ``write_ivf_pq_layout`` and ``append_to_ivf_pq_layout`` so
    the append path cannot drift from the build path's encoding.
    ``expr_key`` (r15): memo key for the per-sub code Columns — the
    codebooks are layout-fixed, so repeated appends (CDC batches) reuse
    one constructed tree per sub (see ``_layout_expr_key``)."""
    from nbi_oedi_etl_spark.operators.similarity import l2_distance

    def build() -> list:
        code_cols = []
        for s in range(pq_m):
            sub_slice = F.slice("res", s * dsub + 1, dsub)
            # transform over the ONE-literal codebook evaluates the same
            # l2_distance per code in dense-code order, so first-min =
            # lowest dense code exactly as the per-code F.array form did
            dists = F.transform(
                _lit_matrix(books[s]), lambda c: l2_distance(sub_slice, c)
            )
            code_cols.append(
                (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            )
        return code_cols

    code_cols = _LAYOUT_MEMO.get(expr_key, build)
    encoded = res
    for s in range(pq_m):
        encoded = encoded.withColumn(f"code_{s}", code_cols[s])
    return encoded


def write_ivf_pq_layout(
    corpus: DataFrame,
    dest: str,
    n_cells: int = 16,
    pq_m: int = 4,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    mode: str = "error",
    cent_unit: np.ndarray | None = None,
) -> np.ndarray:
    """Materialize the corpus hive-partitioned by IVF cell WITH per-row
    PQ codes (residual quantization: PQ trained on emb − cell_centroid,
    the Jégou IVFADC layout): columns (vec_id, emb, code_0..code_{m-1}),
    partition column ``cell``. Codes are DENSE 0..k-1 ints (the trained
    codebook's code ids remapped in sorted order), so the probe's
    reconstruction is a literal element_at — no join. Both sidecars are
    written: ``_ivf_meta.json`` (coarse codebook — the layout stays
    probe-compatible with ``probe_ivf_layout``) and ``_ivf_pq_meta.json``
    (m, dsub, k + the dense per-(sub, code) codebooks).

    Plan/scale: one full corpus scan ever. Assign, residual, and encode
    are PURE PROJECTIONS over literal codebooks — the dense codes come
    from an expression argmin (array_position of the min distance over
    the literal trained codebook: first-min = lowest dense code, the
    same tie rule as ``similarity.pq_assign``), so the write path's only
    shuffles are the bounded codebook-TRAINING pass (one per-(sub, code,
    dim) aggregate over the corpus) and the per-cell write repartition.
    Returns the coarse codebook."""
    from nbi_oedi_etl_spark.operators.similarity import (
        pq_subvectors,
        pq_train_codebook,
    )

    if cent_unit is None:
        cent_unit = ivf_codebook(corpus, n_cells, id_col, vec_col, seed)
    if cent_unit is None:
        raise ValueError("empty corpus: no codebook")
    dim = cent_unit.shape[0]
    if dim % pq_m:
        raise ValueError(f"dim {dim} not divisible by pq_m {pq_m}")
    dsub = dim // pq_m
    assigned = _assign_cells(corpus, cent_unit, id_col, vec_col)
    cent_lit = _lit_matrix(cent_unit.T)  # cells×dim: element j = centroid j
    res = assigned.withColumn(
        "res",
        F.zip_with("emb", F.element_at(cent_lit, F.col("cell") + 1), lambda x, y: x - y),
    )
    subs = pq_subvectors(res, pq_m, dsub, vec_col="res")
    # Same init set as pq_train_codebook's default (the k smallest
    # vec_ids — ids are unique per the corpus contract, so distinct
    # over the exploded subs ≡ distinct over the corpus), but derived
    # as a column-pruned TakeOrdered on the RAW scan instead of a
    # distinct+sort over the assign-UDF+explode chain (profiled r14:
    # that default init job alone cost 9 s of the 21 s first-batch
    # layout build at sf0.1 — the chain re-executes per job).
    init_ids = [
        r[0]
        for r in corpus.select(F.col(id_col)).orderBy(id_col).limit(pq_k).collect()
    ]
    cb = pq_train_codebook(subs, pq_k, init_ids=init_ids)
    cb_rows = sorted(
        ((r["sub"], r["code"], list(r["c_emb"])) for r in cb.collect()),
    )
    # dense remap: per sub, sorted original code ids -> 0..k-1 (sorted
    # original order == dense order, so lowest-original-id ties map to
    # lowest dense code)
    books: dict[int, list[list[float]]] = {}
    for sub, _code, c_emb in cb_rows:
        books.setdefault(sub, []).append(c_emb)
    encoded = _pq_encode_codes(res, books, pq_m, dsub)
    (
        encoded.drop("res")
        .repartition("cell")
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(dest)
    )
    spark = corpus.sparkSession
    _write_ivf_meta(spark, dest, cent_unit)
    _write_meta(
        spark,
        dest,
        {
            "pq_m": pq_m,
            "pq_dsub": dsub,
            "pq_k": pq_k,
            # dense codebooks: books[sub][dense_code] = dsub doubles
            "codebooks": [books[s] for s in range(pq_m)],
        },
        fname=_IVF_PQ_META_FILE,
    )
    return cent_unit


def read_ivf_pq_meta(spark: SparkSession, path: str) -> dict:
    """The layout's PQ sidecar: m, dsub, k and the dense codebooks."""
    m = _read_meta(spark, path, fname=_IVF_PQ_META_FILE)
    books = m["codebooks"]
    if len(books) != m["pq_m"]:
        raise ValueError(f"corrupt IVF-PQ sidecar: {len(books)} codebooks "
                         f"for pq_m={m['pq_m']}")
    return m


def probe_ivf_pq_layout(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    driver_batch_rows: int | None = None,
) -> DataFrame:
    """ADC probe over the at-rest IVF-PQ layout: per-query n_probe
    nearest cells (static partition predicate, exactly like
    ``probe_ivf_layout``), then rank candidates by cosine against the
    PQ RECONSTRUCTION — cell centroid + per-sub codebook rows looked up
    from the stored dense codes via literal ``element_at``. The scan's
    ReadSchema carries only ``vec_id`` + the M code ints (+ the ``cell``
    partition value): the embedding column's pages are never read —
    column pruning IS the PQ memory win, composed on top of the
    partition pruning (plan-pinned in tests/test_plans.py; bytes
    measured by tools/ivf_pq_probe.py).

    Dispatch (ADVICE r11 — was driver-collect-only with a docstring as
    the sole guard): the same column-pruned ``limit(cap+1)`` peek as
    ``probe_ivf_layout``. Broadcast-sized batches collect once and probe
    driver-side with a static partition predicate; batches past
    ``_MAX_PROBE_BATCH_ROWS`` (override via ``driver_batch_rows``) take
    the DISTRIBUTED branch — executor-side ``ivf_probe_udf`` + shuffle
    join on cell against the full code scan (a batch that size probes
    ~every cell, so static pruning buys nothing) — with the SAME ADC
    reconstruction expression, so the two branches cannot drift."""
    cent_unit = read_ivf_codebook(spark, path)
    meta = read_ivf_pq_meta(spark, path)
    pq_m, dsub = meta["pq_m"], meta["pq_dsub"]
    dim = cent_unit.shape[0]
    q_src = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_emb"),
    )
    code_cols = [f"code_{s}" for s in range(pq_m)]
    cap = _MAX_PROBE_BATCH_ROWS if driver_batch_rows is None else driver_batch_rows
    # one bounded collect for dispatch + driver rows — see probe_ivf_layout
    rows = q_src.limit(cap + 1).collect()
    if len(rows) > cap:
        from nbi_oedi_etl_spark.operators.similarity import ivf_probe_udf

        q = q_src.select(
            "query_id",
            "q_emb",
            F.explode(ivf_probe_udf(cent_unit, n_probe)(F.col("q_emb"))).alias(
                "cell"
            ),
        )
        scan = _layout_scan(spark, path).select("vec_id", "cell", *code_cols)
        broadcast_q = False
    else:
        q, probed = _probe_relation_from_rows(
            spark, rows, list(q_src.schema.fields), cent_unit, n_probe
        )
        scan = (
            _layout_scan(spark, path)
            .where(F.col("cell").isin(probed))
            .select("vec_id", "cell", *code_cols)
        )
        broadcast_q = True
    return _adc_rerank(
        scan, q, meta, cent_unit, k, broadcast_q,
        expr_key=_layout_expr_key(spark, path, _IVF_PQ_META_FILE, "adc"),
    )


def _layout_expr_key(spark: SparkSession, path: str, fname: str, tag: str):
    """``_LAYOUT_MEMO`` key for a Column tree built from a layout's sidecar
    — the ADC reconstruction column and the PQ encode columns. The
    codebook literals are FIXED once a layout is written, but the CDC
    streams re-built these trees every micro-batch (~0.3-0.4 s/batch of
    driver-side construction, r15 phase timers; guide §5.4 — the driver
    is single-threaded Python). Per applicationId: a Column is a JVM
    reference."""
    return _layout_key(spark, path, fname, tag, per_session=True)


def _adc_rerank(
    scan: DataFrame,
    q: DataFrame,
    meta: dict,
    cent_unit: np.ndarray,
    k: int,
    broadcast_q: bool,
    expr_key=None,
) -> DataFrame:
    """Shared ADC tail (probe + fused CDC step): reconstruct every scanned
    row from its dense codes via literal ``element_at`` (cell centroid +
    per-sub codebook rows) and cosine-rerank against the query relation.
    ``scan`` must carry (vec_id, cell, code_0..code_{m-1}).
    ``expr_key`` (r15): memo key for the reconstruction Column — the
    literals are fixed per layout, so repeated probes (CDC batches,
    recall curves) reuse ONE constructed tree instead of re-building it
    (identical expression by construction: same builders over the same
    sidecar values)."""
    pq_m = meta["pq_m"]
    code_cols = [f"code_{s}" for s in range(pq_m)]

    def build():
        books = meta["codebooks"]
        cb_lits = [_lit_matrix(books[s]) for s in range(pq_m)]
        cent_lit = _lit_matrix(cent_unit.T)
        recon = F.concat(
            *[F.element_at(cb_lits[s], F.col(f"code_{s}") + 1) for s in range(pq_m)]
        )
        return F.zip_with(
            recon, F.element_at(cent_lit, F.col("cell") + 1), lambda x, y: x + y
        )

    xhat = _LAYOUT_MEMO.get(expr_key, build)
    c = scan.withColumn("emb", xhat).drop(*code_cols)
    return _rerank_candidates(c, q, k, broadcast_q=broadcast_q)


def ivf_pq_reconstruction_reference(
    layout_dir: str,
    queries: list,
    cent_unit: np.ndarray,
    meta: dict,
    n_probe: int,
    k: int,
) -> set:
    """INDEPENDENT parity reference for the ADC probe, deliberately
    Spark-free: reads the layout's raw parquet files with pyarrow,
    reconstructs every stored row from its dense codes + the two
    sidecars in plain numpy, probes with the SAME ``probe_cells``, and
    ranks by cosine (ties to the lower vec_id). Shared by
    tests/test_new_op_properties.py and tools/ivf_pq_probe.py so the
    evidence tool and the regression pin can never diverge. Returns a
    set of (query_id, vec_id, round(sim, 6), rank); ``queries`` is a
    list of (query_id, vector-as-list)."""
    import glob as _glob
    import math
    import re

    import pyarrow.parquet as _papq

    books = meta["codebooks"]
    recon = {}
    for f in _glob.glob(f"{layout_dir}/cell=*/*.parquet"):
        cell = int(re.search(r"cell=(\d+)", f).group(1))
        t = _papq.read_table(f)
        for i in range(t.num_rows):
            vid = t["vec_id"][i].as_py()
            parts = [
                books[s][t[f"code_{s}"][i].as_py()] for s in range(meta["pq_m"])
            ]
            xhat = np.concatenate([np.asarray(p) for p in parts]) + cent_unit[:, cell]
            recon[vid] = (cell, xhat)
    out = set()
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    cells = probe_cells(qmat, cent_unit, n_probe)
    for (qid, qv), row_cells in zip(queries, cells):
        qv = np.asarray(qv, dtype=np.float64)
        probed = set(int(c) for c in row_cells)
        cands = []
        for vid, (cell, xhat) in recon.items():
            if cell in probed and vid != qid:
                # explicit sequential index-order fold, NOT qv @ xhat:
                # BLAS reorders the summation, and on near-ties the
                # round-6 value (or the rank order) could differ bit-wise
                # from the Spark expression's left-to-right aggregate —
                # the exact hazard the l2_distance docstring pins
                # (ADVICE r11)
                dot = nq = nx = 0.0
                for a, b in zip(qv.tolist(), xhat.tolist()):
                    dot += a * b
                    nq += a * a
                    nx += b * b
                sim = dot / (math.sqrt(nq) * math.sqrt(nx))
                cands.append((vid, sim))
        cands.sort(key=lambda t: (-t[1], t[0]))
        for rank, (vid, sim) in enumerate(cands[:k], 1):
            out.add((qid, vid, round(sim, 6), rank))
    return out

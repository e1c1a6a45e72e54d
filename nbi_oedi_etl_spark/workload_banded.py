"""Driver-oracled twin of the at-rest LSH banding layout (r10).

``operators/banded_layout`` is plan-pinned and parity-tested against the
in-memory self-join, but its production xxhash64 band hashes cannot be
reproduced in DuckDB — so, like ``minhash_lsh_portable`` for the
in-memory form, this module runs the SAME write→probe layout machinery
under the md5-portable hash family (``workload_ext._portable_signatures``,
the shared signature pipeline) and value-hash-checks the result
cross-engine. The layout path itself (hive-partition by pcell, sidecar,
static IN-list prune, band-key join) is byte-for-byte the production
code — only the banding family is swapped through the documented
``banded_rows`` extension point.

Corpus/batch split: doc_id % 5 (batch = the 0-residue fifth, the CDC
"new documents" side), mirroring ``incremental_dedup_new_docs``'s shape.

Reference parity: no reference analogue (§2.12 extension, scale path).
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nbi_oedi_etl_spark import workload_ext as ext
from nbi_oedi_etl_spark.memo import Memo, file_key, session_key
from nbi_oedi_etl_spark.operators.banded_layout import (
    append_to_banded_layout,
    banded_rows_for_layout,
    probe_banded_layout,
    write_banded_layout,
)
from nbi_oedi_etl_spark.streaming.foreach_batch import run_batches

#: 4 bands × 2 signature slots — the banding of _portable_minhash_pairs.
_BANDS = 4


#: The one parent of this process's drain roots and staged splits, made
#: on first use and removed at interpreter exit: a spec returns a lazy
#: read of its drain root, so no call can remove its own.
_drain_parent: str | None = None
_drain_lock = threading.Lock()


def _drain_dir(prefix: str) -> str:
    """A fresh directory under this process's drain parent."""
    global _drain_parent
    with _drain_lock:
        if _drain_parent is None or not os.path.isdir(_drain_parent):
            _drain_parent = tempfile.mkdtemp(prefix="nbi_drains_")
            atexit.register(shutil.rmtree, _drain_parent, True)
        return tempfile.mkdtemp(prefix=prefix, dir=_drain_parent)


#: staged mod-3 splits, keyed by the source table's path, id_col and file
#: fingerprint. The split is a pure driver-side pyarrow derivation of the
#: table — no Spark session in the key (see ``memo``) — so one bench /
#: driver process stages each source once instead of per stream spec
#: (r12 bench: ``documents`` was re-staged by 3 streams and
#: ``embeddings`` by 2 on every pass; VERDICT r12 task 2 lever).
#: Consumers only ever READ the staged files; checkpoint dirs stay
#: per-call, so each drain still replays all 3 files. The memo's lock
#: spans check+populate, so concurrent probe runs stage once (ADVICE r13).
_STAGED_MOD3_CACHE = Memo(8)


def _staged_dir_intact(src: str) -> bool:
    """ALL three part files must survive for a cached staging dir to be
    reused: a partially-swept tempdir (part0/part1 gone, part2 alive)
    would silently drop ~2/3 of every consumer stream's batches
    (ADVICE r13 / VERDICT r13 minor finding)."""
    return all(
        os.path.isfile(os.path.join(src, f"part{k}.parquet")) for k in range(3)
    )


def _stage_mod3_split(sf_dir: str, table: str, id_col: str) -> str:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def _mod3(col):
        # pyarrow has no mod kernel in this build; ids are
        # non-negative int64, so truncating integer division suffices
        return pc.subtract(col, pc.multiply(pc.divide(col, 3), 3))

    def build() -> str:
        src = _drain_dir("mod3_src_")
        t = pq.read_table(f"{sf_dir}/{table}.parquet")
        for k in range(3):
            path = os.path.join(src, f"part{k}.parquet")
            pq.write_table(t.filter(pc.equal(_mod3(t.column(id_col)), k)), path)
            os.utime(path, (1700000000 + 10 * k, 1700000000 + 10 * k))
        return src

    # Re-stage unless every part survived an OS tempdir sweep.
    return _STAGED_MOD3_CACHE.get(
        file_key(f"{sf_dir}/{table}.parquet", id_col), build, valid=_staged_dir_intact
    )


#: staged row-range-thirds splits, keyed by the table's path and file
#: fingerprint — the row-slice twin of _STAGED_MOD3_CACHE for the
#: three foreachBatch stream specs that batch by arrival order rather than
#: id residue (upsert, cumulative-uniques, EWMA — `events` was re-staged
#: by all three on every bench pass). Same argument: a pure driver-side
#: derivation of the table; consumers only READ the staged files and keep
#: per-call checkpoints.
_STAGED_THIRDS_CACHE = Memo(8)


def stage_sliced_thirds(sf_dir: str, table: str) -> str:
    """Stage ``{sf_dir}/{table}.parquet`` as 3 row-range slices with
    mtimes ordered for stable file-age micro-batch ordering; memoized
    per (sf_dir, table), so every consumer shares one staged split."""
    import pyarrow.parquet as pq

    def build() -> str:
        src = _drain_dir("thirds_src_")
        t = pq.read_table(f"{sf_dir}/{table}.parquet")
        n = t.num_rows
        cuts = [0, n // 3, 2 * n // 3, n]
        for i in range(3):
            path = os.path.join(src, f"part{i}.parquet")
            pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
            os.utime(path, (1700000000 + 10 * i, 1700000000 + 10 * i))
        return src

    return _STAGED_THIRDS_CACHE.get(
        file_key(f"{sf_dir}/{table}.parquet"), build, valid=_staged_dir_intact
    )


def drain_event_thirds(spark, sf_dir: str, make_step, prefix: str):
    """The ``events`` twin of ``drain_mod3_batches``: the 3 row-range
    slices of ``stage_sliced_thirds``, ``ts`` normalized by
    ``ingest.events_file_stream``, one slice per trigger."""
    from nbi_oedi_etl_spark.streaming import ingest

    s = ingest.scoped_streaming_session(spark)
    src = stage_sliced_thirds(sf_dir, "events")
    stream = ingest.events_file_stream(s, sf_dir, max_files_per_trigger=1, stream_dir=src)
    root = _drain_dir(prefix)
    run_batches(stream, root, make_step(root))
    return s, root


def drain_mod3_batches(spark, sf_dir: str, table: str, id_col: str, make_step, prefix: str):
    """Shared 3-micro-batch CDC drain harness: ``table`` staged as 3
    parts (``id_col % 3``, memoized, mtimes ordered for a stable file-age
    order), drained one part per trigger by ``run_batches`` into one
    fresh root. ``make_step(root)`` builds the step; its state lives in
    the root, not its closure. Returns (scoped session, root)."""
    from nbi_oedi_etl_spark.streaming import ingest

    s = ingest.scoped_streaming_session(spark)
    stream = (
        s.readStream.schema(ingest.table_schema(s, sf_dir, table))
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_mod3_split(sf_dir, table, id_col))
    )
    root = _drain_dir(prefix)
    run_batches(stream, root, make_step(root))
    return s, root


def _layout_cdc_step(root: str, out_schema: str, fit, step):
    """``drain_layout_cdc``'s step: layout at ``root/layout``, results at
    ``root/out/batch=<id>``."""
    layout = os.path.join(root, "layout")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bs = batch_df.sparkSession
        dest = os.path.join(root, "out", f"batch={batch_id}")
        out = None
        if glob.glob(os.path.join(layout, "_*meta.json")):  # fitted
            out = step(bs, batch_df, layout)
        else:
            fit(bs, batch_df, layout)
        if out is None:
            empty = bs.createDataFrame([], out_schema).repartition(1)
            empty.write.mode("overwrite").parquet(dest)
            return
        result, append = out
        with ThreadPoolExecutor(max_workers=2) as pool:
            legs = [
                pool.submit(lambda: result.write.mode("overwrite").parquet(dest)),
                pool.submit(append),
            ]
        for leg in legs:  # both joined by the pool's exit; re-raise
            leg.result()

    return apply_batch


def drain_layout_cdc(
    spark, sf_dir: str, table: str, id_col: str, prefix: str, out_schema: str,
    fit, step,
) -> DataFrame:
    """Layout CDC stream over ``drain_mod3_batches``: the one batch-commit
    policy of the banded and IVF streams. Each micro-batch either fits
    the at-rest layout or probes it and folds itself in, and writes only
    its own results to a ``batch=<id>`` delta under the result root —
    union-on-read reassembles them, and a replayed batch overwrites only
    its own partition (r12: the old prev-union-overwrite rewrote the
    accumulated results every trigger, O(B²) write volume).

    - ``fit(bs, batch, layout)`` runs until the layout is fitted, which
      means a layout sidecar (``_*meta.json``) exists: both layout
      writers write it after the data. A fit that writes nothing (IVF
      on an empty batch) leaves the next batch to fit. Its batch writes
      an empty delta.
    - ``step(bs, batch, layout) -> (result, append) | None`` runs on every
      batch after that. ``None`` (an empty batch) writes an empty delta.

    Empty deltas carry ``out_schema``: ``repartition(1)`` forces a
    schema-bearing part file, so union-on-read never sees a footer-less
    delta dir.

    r15 (guide §2.6 — overlap independent jobs): ``result`` is written
    from one driver thread while ``append()`` runs on another; the step
    resolved the probe's layout listing before returning, so the
    append's files cannot leak into the result job. Both legs are joined
    before the batch returns, and a failure of either fails the batch.
    This removes the serialized append wall per batch (phase-timed r15:
    banded append 1.0 s behind pairs 0.3 s, IVF ~0.6 s), but the replay
    semantics are WEAKER than the sequential order's: the append can
    commit while the result write fails, and the replayed batch then
    probes a layout that already holds its own rows — its delta
    (overwritten in place) gains within-batch matches an uninterrupted
    run does not emit, and the layout keeps the batch's rows twice.
    Batch-owned idempotent appends are ROADMAP direction C."""
    s, root = drain_mod3_batches(
        spark, sf_dir, table, id_col,
        lambda root: _layout_cdc_step(root, out_schema, fit, step), prefix,
    )
    out = s.read.parquet(os.path.join(root, "out"))
    return out.select(*StructType.fromDDL(out_schema).fieldNames())


def _portable_band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) under the md5-portable family: the
    band hash is the same hex→bigint md5 bridge the signatures use,
    applied to the band's two signature slots — equal band hashes ⟺
    equal (v1, v2) pairs (md5 collisions aside), so the layout join
    matches exactly the (v1, v2) equi-join the oracle runs."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("band_hash"),
        )
        for b in range(_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band_id", "b.band_hash")


_LAYOUT_CACHE = Memo(8)


def banded_layout_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end at-rest probe under the portable family: write the
    corpus fifth's band rows hive-partitioned ONCE per session
    (memoized like the signature pipeline it reuses), then probe with
    the batch fifth — candidate pairs (doc_id_new, doc_id_corpus)."""
    sig = ext.portable_signatures_cached(spark, sf_dir)
    banded = _portable_band_rows(sig)

    def build() -> str:
        dest = tempfile.mkdtemp(prefix="banded_portable_") + "/layout"
        write_banded_layout(
            None,
            dest,
            n_buckets=16,
            banded_rows=banded.where(F.col("doc_id") % 5 != 0),
        )
        return dest

    dest = _LAYOUT_CACHE.get(session_key(spark, sf_dir), build)
    return probe_banded_layout(
        spark, dest, banded_rows=banded.where(F.col("doc_id") % 5 == 0)
    )


_PAIRS_CDC_SCHEMA = "doc_id_new long, doc_id_corpus long"


def _banded_cdc_step(bs: SparkSession, layout: str, rows: DataFrame):
    """The banded twins' CDC step. r14 (guide §2.4): the banding pipeline
    is the expensive half of BOTH legs — checkpoint the band rows once
    and share them, instead of probe and append each re-deriving them
    from the raw batch. Within-batch distinct only: LSH emits a pair once
    per matching band; ACROSS batches pair sets are disjoint by
    construction (doc_id_new ∈ this batch, each doc arrives exactly
    once), so per-batch deltas need no global distinct. The probe's
    corpus listing resolves here (``probe_banded_layout``'s eager read),
    so the append's new files cannot leak into the pairs job. The layout
    operators are module globals looked up at call time, so a caller
    that rebinds them (span tracing) sees every call."""
    rows = rows.localCheckpoint(eager=True)
    pairs = probe_banded_layout(
        bs, layout, banded_rows=rows, rows_materialized=True
    ).distinct()
    return pairs, lambda: append_to_banded_layout(bs, layout, banded_rows=rows)


def streaming_banded_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded layout's CDC loop run as a STREAM: documents arrive in
    3 deterministic micro-batches (batch k = doc_id % 3 == k, one file
    per trigger); each batch is probed against the at-rest layout for
    near-dup candidates among all PRIOR docs, then its band rows are
    appended so the next batch sees it (``drain_layout_cdc`` — per-batch
    pair deltas, union-on-read). The drained union must equal the
    one-shot cross-batch pairs — later batch as the "new" side — which
    the oracle computes directly from the %3 split.

    Scale: per batch the probe reads only the batch's probed pcell
    partitions (the plan-pinned prune) and the append writes one file
    per touched pcell; state between batches is the LAYOUT itself, not
    driver memory.

    Portable (md5) banding family throughout so the accumulated pairs
    are value-checkable cross-engine — same trade as
    ``minhash_lsh_portable`` vs the xxhash64 production default.
    """

    def rows(batch: DataFrame) -> DataFrame:
        return _portable_band_rows(
            ext._portable_signatures(batch.select("doc_id", "text"))
        )

    def fit(bs, batch, layout) -> None:
        # first batch: nothing before it — just materialize the layout
        write_banded_layout(None, layout, n_buckets=16, banded_rows=rows(batch))

    return drain_layout_cdc(
        spark, sf_dir, "documents", "doc_id", "banded_cdc_",
        _PAIRS_CDC_SCHEMA, fit,
        lambda bs, batch, layout: _banded_cdc_step(bs, layout, rows(batch)),
    )


def streaming_banded_cdc_dedup_production(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION-family twin of ``streaming_banded_cdc_dedup``: the
    identical 3-micro-batch CDC loop (probe the batch against the at-rest
    layout, append, per-batch pair deltas) run with
    the default xxhash64 banding (``operators.dedup.band_rows`` via the
    layout's own sidecar parameters) instead of the md5-portable bridge.

    Registered rows-only (xxhash64 is not reproducible in DuckDB — the
    same adjudication as ``minhash_lsh_candidates``); the VALUE evidence
    is the portable twin above plus the write→probe parity property
    tests. This spec exists to MEASURE the portable-vs-production hashing
    premium the r10 verdict asked to quantify (task 5): both twins run in
    the bench headline set, so BENCH_DETAIL carries the ratio per round.
    """

    def fit(bs, batch, layout) -> None:
        # SAME banding geometry as the portable twin (8 hashes × 4 bands,
        # 16 buckets) so the bench ratio isolates the HASH FAMILY
        # premium, not a signature-width difference
        write_banded_layout(
            batch.select("doc_id", "text"), layout, num_hashes=8, bands=4,
            n_buckets=16,
        )

    def step(bs, batch, layout):
        # band the batch ONCE with the layout's own sidecar parameters
        rows = banded_rows_for_layout(bs, layout, batch.select("doc_id", "text"))
        return _banded_cdc_step(bs, layout, rows)

    return drain_layout_cdc(
        spark, sf_dir, "documents", "doc_id", "banded_cdc_prod_",
        _PAIRS_CDC_SCHEMA, fit, step,
    )


# Cross-batch pairs directly from the %3 split: a doc's batch is
# doc_id % 3, the "new" side is the LATER batch, and candidates share a
# band's (v1, v2) slots — the same CTE chain as the layout oracle below.
STREAMING_BANDED_CDC_ORACLE = r"""
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
SELECT DISTINCT q.doc_id AS doc_id_new, c.doc_id AS doc_id_corpus
FROM b q JOIN b c ON q.band = c.band AND q.v1 = c.v1 AND q.v2 = c.v2
WHERE q.doc_id % 3 > c.doc_id % 3
"""


# The oracle recomputes the portable signatures (the CTE chain of
# MINHASH_PORTABLE_ORACLE) and joins bands across the % 5 split on the
# raw (v1, v2) slots — equal md5 band hashes ⟺ equal slots, so the
# engines agree without DuckDB needing the band-hash bridge itself.
BANDED_LAYOUT_PORTABLE_ORACLE = r"""
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
SELECT DISTINCT q.doc_id AS doc_id_new, c.doc_id AS doc_id_corpus
FROM b q JOIN b c ON q.band = c.band AND q.v1 = c.v1 AND q.v2 = c.v2
WHERE q.doc_id % 5 = 0 AND c.doc_id % 5 != 0
"""


_ANN_CDC_SCHEMA = "query_id long, vec_id long, cos_sim double, rank int"


def _ivf_cdc_fit(write_layout):
    """``fit`` for the IVF streams: an empty batch writes no layout and so
    no sidecar, and the next batch fits again — a flag set by the first
    batch would probe a never-written layout when only that batch is
    empty."""

    def fit(bs, batch, layout) -> None:
        vecs = batch.select("vec_id", "embedding")
        if not vecs.isEmpty():
            write_layout(vecs, layout)

    return fit


def streaming_ivf_cdc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF layout's CDC loop as a STREAM — the ANN sibling of the
    banded loops above (r11, after the r11 append/compaction legs):
    embeddings arrive in 3 deterministic micro-batches (vec_id % 3); the
    first nonempty batch materializes the layout (codebook fitted once,
    seeded — then FIXED for the stream's life, the standard IVF
    practice); each later batch is probed for its top-k nearest among all
    PRIOR vectors, then appended so the next batch sees it. Query ids are
    the batch's vec_ids, so the per-batch deltas of ``drain_layout_cdc``
    are disjoint across batches by construction.

    Rows-only: the seeded k-means codebook is not reproducible in SQL —
    the same adjudication as ``embedding_ivf_topk``; the VALUE evidence
    is the incremental==one-shot layout equivalence pinned in
    tests/test_new_op_properties.py (same codebook → identical probes)
    plus the oracled exact-cosine specs. Deterministic end-to-end given
    the fixed seed, so the driver's rows-only check is stable.
    """
    from nbi_oedi_etl_spark.operators.ivf_layout import (
        cdc_probe_append_ivf_layout,
        write_ivf_layout,
    )

    # r14 fused CDC step (guide §2.4/§4): one driver collect shared by
    # the probe and append legs, driver-side cell assignment, and the
    # empty-batch peek folded into the same collect (None = empty batch)
    return drain_layout_cdc(
        spark, sf_dir, "embeddings", "vec_id", "ivf_cdc_", _ANN_CDC_SCHEMA,
        _ivf_cdc_fit(lambda vecs, layout: write_ivf_layout(vecs, layout, n_cells=8)),
        lambda bs, batch, layout: cdc_probe_append_ivf_layout(
            bs, layout, batch.select("vec_id", "embedding"), k=3,
            query_id_col="vec_id",
        ),
    )


def streaming_ivf_pq_cdc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-tier sibling of ``streaming_ivf_cdc_ann`` (r12 —
    completes the CDC triple: banded, IVF, IVF-PQ): the first nonempty
    batch trains the at-rest IVF-PQ layout (coarse codebook + per-sub
    residual PQ codebooks, both FIXED for the stream's life — the
    sidecar contract); each later batch is ADC-probed for its top-k
    among all PRIOR vectors (the scan reads vec_id + M code ints, never
    the embedding column) and then appended with its rows PQ-encoded
    under the STORED codebooks (a plain append would leave code_* null
    and the vectors would silently vanish from later ADC results — the
    guard refuses it). Per-batch result deltas, union-on-read, like its
    two siblings.

    Rows-only: the seeded k-means coarse codebook and the Lloyd-trained
    PQ codebooks are not reproducible in SQL — the
    ``streaming_ivf_cdc_ann`` adjudication; the VALUE evidence is the
    driver-vs-distributed branch parity, the post-append numpy
    reconstruction pin (tests/test_new_op_properties.py), and the
    oracled PQ specs (``embedding_pq_codes`` / ``embedding_pq_adc_topk``
    / ``ivf_pq_portable``). Deterministic end-to-end given the fixed
    seed, so the driver's rows-only check is stable.
    """
    from nbi_oedi_etl_spark.operators.ivf_layout import (
        cdc_probe_append_ivf_pq_layout,
        write_ivf_pq_layout,
    )

    return drain_layout_cdc(
        spark, sf_dir, "embeddings", "vec_id", "ivfpq_cdc_", _ANN_CDC_SCHEMA,
        _ivf_cdc_fit(
            lambda vecs, layout: write_ivf_pq_layout(
                vecs, layout, n_cells=8, pq_m=4, pq_k=16
            )
        ),
        lambda bs, batch, layout: cdc_probe_append_ivf_pq_layout(
            bs, layout, batch.select("vec_id", "embedding"), k=3,
            query_id_col="vec_id",
        ),
    )

"""Round-10 wave: training-sequence packing (§2.12 extension).

The one LLM-pipeline step the registry lacked between chunking
(within-doc) and shard assignment (whole-doc routing): packing documents
into fixed token-budget TRAINING SEQUENCES. This implements the
concat-and-cut discipline most large-scale pipelines actually use —
concatenate documents in a deterministic order and cut every L tokens —
rather than bin-packing heuristics (first-fit-decreasing needs a
sequential scan over the corpus; concat-and-cut is one window cumsum,
embarrassingly scalable, and wastes no tokens to padding by
construction).

Reference parity: no reference analogue (§2.12 extension).
"""

from __future__ import annotations

import json
import os
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.operators.skew import keyed_cumsum
from nbi_oedi_etl_spark.sources import read_table
from nbi_oedi_etl_spark.streaming.foreach_batch import last_committed

#: Fixed token budget per training sequence.
PACK_TOKENS = 2048

#: Bucket width (in doc_id units) for the two-pass packing cumsum — the
#: parallelism unit when a source is hot enough to dispatch off the
#: naive window (see ``_doc_id_bucket``).
PACK_BUCKET_DOCS = 1_000


def _doc_id_bucket() -> Column:
    """Monotone bucketizer for the doc_id-ordered packing cumsums:
    ``floor(doc_id / PACK_BUCKET_DOCS)`` — non-decreasing in doc_id by
    construction, so the two-pass spine's earlier-bucket prefix is exact
    (the ``keyed_cumsum_two_pass`` caller contract)."""
    return F.floor(F.col("doc_id") / PACK_BUCKET_DOCS)


def _hash_prefix_bucket(hex_col: str = "h", chars: int = 2) -> Column:
    """Monotone bucketizer for an md5-hex shuffle order: the first
    ``chars`` hex digits as an integer (256 buckets at 2). Hex digits
    0-9a-f sort identically by ASCII and by numeric value, so the bucket
    is non-decreasing in the (h, doc_id) lexicographic order — a hot
    source's budget walk spreads over its non-empty hash-prefix buckets
    instead of one task."""
    return F.conv(F.substring(F.col(hex_col), 1, chars), 16, 10).cast("long")


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document its place in the packed training stream:
    per ``source`` (the shard key — each source's stream packs
    independently, so the cumsum window is keyed, never global), docs
    concatenate in doc_id order and cut every ``PACK_TOKENS`` whitespace
    tokens. Output per doc: the sequence it STARTS in (``seq_id``), its
    token offset there, and how many sequences it spans (a doc larger
    than the budget legitimately spans several).

    Plan/scale: the cumsum routes through ``operators/skew.keyed_cumsum``
    (VERDICT r10 task 2) — ``source`` is a LOW-cardinality key (a handful
    of values in any real mixture recipe), so below the measured ~1M
    rows/key crossover the naive keyed window runs (one shuffle on
    ``source``, map-side token counting), and a hot source dispatches to
    the two-pass spine bucketed by doc_id range
    (``floor(doc_id/PACK_BUCKET_DOCS)``) so its stream spreads over
    buckets instead of one task. Zero-token docs (null or
    whitespace-only text) are excluded — they contribute nothing to the
    stream and would otherwise alias their neighbor's offset.
    """
    d = read_table(spark, sf_dir, "documents")
    d = d.where(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")).select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    d = keyed_cumsum(
        d, "source", ["doc_id"], _doc_id_bucket(), "n_tokens",
        out_col="cum_before", include_current=False,
    )
    cum_before = F.col("cum_before")
    return d.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(cum_before / PACK_TOKENS).alias("seq_id"),
        (cum_before % PACK_TOKENS).alias("offset_in_seq"),
        (
            F.floor((cum_before + F.col("n_tokens") - 1) / PACK_TOKENS)
            - F.floor(cum_before / PACK_TOKENS)
            + 1
        ).alias("seq_span"),
    )


def corpus_pack_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed sequences' PAYLOADS: one row per (doc, sequence) pair
    with the doc's token slice that lands in that sequence — what a
    training-data writer would actually emit, grouped downstream by
    (source, seq_id) to assemble each fixed-budget example. A doc
    spanning k sequences explodes into k rows (k is ceil(n_tokens/L)+1
    at most — almost always 1); the explode is a narrow map over the
    same skew-dispatched cumsum plan as ``corpus_pack_sequences``
    (``skew.keyed_cumsum``, doc_id-range buckets; the probe's key-pruned
    aggregate never materializes the ``toks`` array).

    Slice bounds are TOKEN indices into the whitespace split, 0-based
    half-open here, mapped to the engines' 1-based inclusive slice
    primitives identically on both sides.
    """
    d = read_table(spark, sf_dir, "documents")
    d = d.where(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")).select(
        "doc_id",
        "source",
        F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
    ).withColumn("n_tokens", F.size("toks"))
    d = keyed_cumsum(
        d, "source", ["doc_id"], _doc_id_bucket(), "n_tokens",
        out_col="cum_before", include_current=False,
    )
    d = d.withColumn("first_seq", F.floor(F.col("cum_before") / PACK_TOKENS)).withColumn(
        "last_seq",
        F.floor((F.col("cum_before") + F.col("n_tokens") - 1) / PACK_TOKENS),
    )
    e = d.select(
        "doc_id",
        "source",
        "toks",
        "n_tokens",
        "cum_before",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    )
    start_tok = F.greatest(
        F.lit(0), F.col("seq_id") * PACK_TOKENS - F.col("cum_before")
    )
    end_tok = F.least(
        F.col("n_tokens"), (F.col("seq_id") + 1) * PACK_TOKENS - F.col("cum_before")
    )
    return e.select(
        "source",
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (end_tok - start_tok).cast("long").alias("slice_tokens"),
        F.concat_ws(
            " ", F.slice("toks", (start_tok + 1).cast("int"), (end_tok - start_tok).cast("int"))
        ).alias("slice_text"),
    )


def corpus_pack_sequences_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL (single-stream) packing: one corpus-wide training stream
    cut every ``PACK_TOKENS`` tokens, with NO shard key to parallelize
    on — exactly the un-keyed-window wall (`Window.orderBy` moves every
    row through one task), so the cumsum runs through
    ``operators/skew.running_sum_two_pass_spine`` with ``key_col=None``
    (the bucket-offset two-pass prefix sum; doc_id is the "time" axis,
    1000-id buckets the parallelism unit). Same output contract as the
    per-source form minus the shard column. The RANGE-frame running sum
    is INCLUSIVE of the current doc; cum_before subtracts the doc's own
    tokens — exact because doc_id is unique (no RANGE ties).
    """
    from nbi_oedi_etl_spark.operators.skew import running_sum_two_pass_spine

    d = read_table(spark, sf_dir, "documents")
    d = d.where(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    out = running_sum_two_pass_spine(
        d, None, ts_col="doc_id", value_col="n_tokens", bucket_seconds=1000.0,
        out_col="cum_incl",
    )
    cum_before = (F.col("cum_incl") - F.col("n_tokens")).cast("long")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(cum_before / PACK_TOKENS).alias("seq_id"),
        (cum_before % PACK_TOKENS).alias("offset_in_seq"),
        (
            F.floor((cum_before + F.col("n_tokens") - 1) / PACK_TOKENS)
            - F.floor(cum_before / PACK_TOKENS)
            + 1
        ).alias("seq_span"),
    )


#: Per-source token budget for the mixture-fill selection.
SOURCE_TOKEN_BUDGET = 10_000


def source_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction under token budgets: per source, walk the
    docs in deterministic-shuffle order (md5 of doc_id — an unbiased
    sample order that every engine reproduces) and keep docs until the
    source's token budget fills. The doc that CROSSES the boundary is
    kept (concat-style fill: budgets bound the stream cut, not the doc
    list), so every source with any tokens contributes at least one doc.

    This is the selection step upstream of ``weighted_mixture_sample``
    (which reweights by count) when the mixture is specified in TOKENS —
    how LLM data recipes are actually written. The cumsum routes through
    ``skew.keyed_cumsum`` like the packing specs, bucketed by the md5
    hash prefix (``conv(substring(h,1,2),16,10)`` — monotone in the
    (h, doc_id) walk order), so a hot source's budget walk spreads over
    256 hash-prefix buckets instead of one task at scale.
    """
    d = read_table(spark, sf_dir, "documents")
    d = d.where(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")).select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    d = keyed_cumsum(
        d, "source", ["h", "doc_id"], _hash_prefix_bucket("h"), "n_tokens",
        out_col="__cum", include_current=False,
    )
    return (
        d.withColumn("cum_before", F.col("__cum").cast("long")).drop("__cum")
        .where(F.col("cum_before") < SOURCE_TOKEN_BUDGET)
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "cum_before",
        )
    )


SOURCE_BUDGET_CAP_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_before AS BIGINT) AS cum_before
FROM c
WHERE cum_before < {SOURCE_TOKEN_BUDGET}
"""


PACK_SEQUENCES_GLOBAL_ORACLE = rf"""
WITH d AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_TOKENS} AS BIGINT) AS offset_in_seq,
       CAST(floor((cum_before + n_tokens - 1) / {PACK_TOKENS})
            - floor(cum_before / {PACK_TOKENS}) + 1 AS BIGINT) AS seq_span
FROM c
"""


PACK_SLICES_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), c AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
), e AS (
  SELECT doc_id, source, toks, n_tokens, cum_before,
         unnest(range(CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT),
                      CAST(floor((cum_before + n_tokens - 1) / {PACK_TOKENS}) AS BIGINT) + 1))
           AS seq_id
  FROM c
), b AS (
  SELECT *, greatest(0, seq_id * {PACK_TOKENS} - cum_before) AS start_tok,
         least(n_tokens, (seq_id + 1) * {PACK_TOKENS} - cum_before) AS end_tok
  FROM e
)
SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(end_tok - start_tok AS BIGINT) AS slice_tokens,
       array_to_string(list_slice(toks, CAST(start_tok + 1 AS BIGINT),
                                  CAST(end_tok AS BIGINT)), ' ') AS slice_text
FROM b
"""


PACK_SEQUENCES_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_TOKENS} AS BIGINT) AS offset_in_seq,
       CAST(floor((cum_before + n_tokens - 1) / {PACK_TOKENS})
            - floor(cum_before / {PACK_TOKENS}) + 1 AS BIGINT) AS seq_span
FROM c
"""


def pack_boundary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality audit: per (source, seq_id) training sequence,
    how many documents it contains, how many tokens it holds (the last
    sequence of each source may run short of the budget), and how many
    CROSS-DOCUMENT boundaries it carries (n_docs − 1) — the number a
    pipeline checks before deciding whether packed sequences need
    boundary attention masking. Composes directly over
    ``corpus_pack_slices`` (one extra keyed aggregate; the cumsum plan
    underneath is the skew-dispatched one).
    """
    slices = corpus_pack_slices(spark, sf_dir)
    return (
        slices.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("slice_tokens").alias("seq_tokens"),
        )
        .select(
            "source",
            "seq_id",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("seq_tokens").cast("long").alias("seq_tokens"),
            (F.col("n_docs") - 1).cast("long").alias("n_boundaries"),
        )
    )


PACK_BOUNDARY_STATS_ORACLE = rf"""
WITH slices AS ({PACK_SLICES_ORACLE})
SELECT source, seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(slice_tokens) AS BIGINT) AS seq_tokens,
       CAST(count(*) - 1 AS BIGINT) AS n_boundaries
FROM slices
GROUP BY source, seq_id
"""


#: Temperature exponent for the sampled mixture (the mT5/multilingual
#: recipe value: raising small sources, damping the head).
MIXTURE_ALPHA = 0.7

#: Global token budget the temperature mixture allocates.
MIXTURE_TOKEN_BUDGET = 100_000


def source_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled mixture weights (w_s ∝ tokens_s^alpha,
    alpha=0.7 — the multilingual-LLM recipe that up-samples small
    sources without letting the head dominate) and the resulting
    per-source token allocation under a global budget, capped at what
    the source actually has. The allocation step upstream of
    ``source_token_budget_cap`` when the recipe is written as a
    temperature instead of hand-set budgets.

    Plan/scale: one grouped aggregate (map-side partial sums) + one
    1-row broadcast of the normalization constant — no window, no
    second corpus pass. Doubles are single expressions of exact token
    counts and shared literals, rounded once to 6.
    """
    d = read_table(spark, sf_dir, "documents")
    per = (
        d.where(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("n_tokens"),
        )
    )
    pw = per.withColumn(
        "pw", F.pow(F.col("n_tokens").cast("double"), F.lit(float(MIXTURE_ALPHA)))
    )
    total = pw.agg(F.sum("pw").alias("z"))
    return (
        pw.crossJoin(F.broadcast(total))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("pw") / F.col("z"), 6).alias("weight"),
            F.least(
                F.col("n_tokens").cast("double"),
                F.floor(F.col("pw") / F.col("z") * MIXTURE_TOKEN_BUDGET),
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
    )


SOURCE_TEMPERATURE_MIXTURE_ORACLE = rf"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
  GROUP BY source
), pw AS (
  SELECT *, pow(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA}) AS pw FROM per
), z AS (
  SELECT sum(pw) AS z FROM pw
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(pw / z, 6) AS weight,
       CAST(least(CAST(n_tokens AS DOUBLE),
                  floor(pw / z * {MIXTURE_TOKEN_BUDGET})) AS BIGINT) AS alloc_tokens
FROM pw, z
"""


def pack_batch(
    d: DataFrame, totals: Mapping[str, int], max_rows_per_key: int | None = None
) -> DataFrame:
    """Pack one micro-batch ``d`` (doc_id, source, n_tokens) behind
    ``totals``, the per-source token count of every earlier batch: the
    batch spec's skew-dispatched ``keyed_cumsum`` plus a broadcast join
    of ``totals`` as offsets."""
    d = keyed_cumsum(
        d, "source", ["doc_id"], _doc_id_bucket(), "n_tokens",
        out_col="__within", include_current=False,
        max_rows_per_key=max_rows_per_key,
    )
    if totals:
        off = d.sparkSession.createDataFrame(
            sorted(totals.items()), "source string, __offset long"
        )
        d = d.join(F.broadcast(off), "source", "left").withColumn(
            "__offset", F.coalesce(F.col("__offset"), F.lit(0))
        )
    else:
        d = d.withColumn("__offset", F.lit(0))
    cum_before = (F.col("__offset") + F.col("__within")).cast("long")
    return d.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(cum_before / PACK_TOKENS).alias("seq_id"),
        (cum_before % PACK_TOKENS).alias("offset_in_seq"),
        (
            F.floor((cum_before + F.col("n_tokens") - 1) / PACK_TOKENS)
            - F.floor(cum_before / PACK_TOKENS)
            + 1
        ).alias("seq_span"),
    )


def _pack_step(root: str):
    """``streaming_pack_sequences``'s step: pack behind the totals of the
    last committed delta (``root/out/batch=<k>/_totals.json``), commit
    ``root/out/batch=<id>``, then put its cumulative totals beside it
    (driver-side JSON moved in by ``os.replace`` — no Spark job)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        d = batch_df.where(
            F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
        ).select(
            "doc_id",
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        )
        # ONE per-source aggregate feeds both the spine-dispatch bound
        # (what keyed_cumsum's own probe job would measure) and the
        # totals advance below.
        stats = (
            d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("n_tokens").alias("t"))
            .collect()
        )
        k = last_committed(root, "out", batch_id)
        totals = {}
        if k is not None:
            with open(f"{root}/out/batch={k}/_totals.json") as f:
                totals = json.load(f)
        dest = f"{root}/out/batch={batch_id}"
        out = pack_batch(d, totals, max((r["c"] for r in stats), default=0))
        out.write.mode("overwrite").parquet(dest)
        for r in stats:
            totals[r["source"]] = totals.get(r["source"], 0) + int(r["t"])
        with open(f"{dest}/_totals.json.tmp", "w") as f:
            json.dump(totals, f)
        os.replace(f"{dest}/_totals.json.tmp", f"{dest}/_totals.json")

    return apply_batch


def streaming_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing as a CDC STREAM: documents arrive in 3 deterministic
    micro-batches (batch k = doc_id % 3 == k, one file per trigger) and
    each batch continues the packed training stream from where the last
    one stopped — the state between batches is the per-source running
    token total (a handful of longs), which each delta commits beside
    itself as a small JSON file (``_pack_step``) and the next batch
    reads back, folded in as a broadcast join (``pack_batch``).

    Drained union contract: incremental packing in arrival order must
    equal ONE-SHOT packing over the corpus ordered by (batch, doc_id) —
    which the oracle reproduces as ``ORDER BY doc_id % 3, doc_id``. Same
    output schema as ``corpus_pack_sequences``.

    At-rest discipline (r11 verdict `weak` fix): each micro-batch writes
    ONLY its own rows to a hive-partitioned ``batch=<id>`` directory —
    never the accumulated history — so per-batch write volume tracks
    batch size, not corpus size (the first draft re-read the previous
    version and overwrote the whole history every trigger: O(B²) total
    write volume over the stream's life, invisible at 3 batches but the
    scale-killer on a long-lived stream). Union-on-read via partition
    discovery reassembles the packed corpus, exactly like the banded /
    IVF CDC siblings append per batch and compact on a cadence
    (``tools/pack_cdc_drill.py`` measures the bounded write trajectory).
    A replayed batch reads the totals of the last delta BEFORE it and
    overwrites only its own partition, and a restart on the same root
    resumes from the checkpoint with the totals it left on disk.
    """
    from nbi_oedi_etl_spark.workload_banded import drain_mod3_batches

    s, root = drain_mod3_batches(
        spark, sf_dir, "documents", "doc_id", _pack_step, "pack_stream_"
    )
    # union-on-read: partition discovery over batch=<id> deltas; the
    # hive partition column is drain bookkeeping, not output schema
    return s.read.parquet(f"{root}/out").select(
        "doc_id", "source", "n_tokens", "seq_id", "offset_in_seq", "seq_span"
    )


STREAMING_PACK_SEQUENCES_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id % 3, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_TOKENS} AS BIGINT) AS offset_in_seq,
       CAST(floor((cum_before + n_tokens - 1) / {PACK_TOKENS})
            - floor(cum_before / {PACK_TOKENS}) + 1 AS BIGINT) AS seq_span
FROM c
"""


# ------------------------------------------- tokenizer-true packing


def corpus_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_pack_sequences`` on TOKENIZER-TRUE counts (VERDICT r11
    task 9): real training pipelines pack BPE tokens, not whitespace
    words, so ``n_tokens`` here is the per-doc BPE UNIT count after
    applying the corpus's own top-2 mined merges — the same
    deterministic merges table ``bpe_apply_merges`` pins (mine →
    apply → pack closes the tokenizer loop end-to-end). The packing
    tail (keyed skew-dispatched cumsum, seq_id / offset / span algebra)
    is IDENTICAL to the whitespace spec; only the token-counting
    projection changes.

    Plan/scale: the 2 merge pairs are bounded model state (collected
    once, inlined as literals — the k-means-centroid pattern); per-doc
    BPE counting is then a PURE PROJECTION (``F.aggregate`` over the
    whitespace split, each word encoded with the double-delimiter
    spacing and merge-rewritten via ``replace`` — greedy-leftmost BPE
    exactly as ``bpe_apply_merges`` proves), so the only shuffles are
    the merge-mining aggregate and the packing cumsum itself. No
    per-word explode+regroup: the count never leaves the doc row.

    Exactness: unit counts are exact integers on both engines (the
    double-delimiter ``replace`` semantics are pinned by
    ``bpe_apply_merges``'s oracle); the packing algebra is integer.
    """
    from nbi_oedi_etl_spark.workload_ext9 import bpe_merge_candidates

    merges = [
        r["pair"]
        for r in bpe_merge_candidates(spark, sf_dir)
        .where(F.col("rank") <= 2)
        .orderBy("rank")
        .collect()
    ]

    def bpe_units(w: Column) -> Column:
        spaced = F.concat(
            F.lit(" "), F.array_join(F.split(w, "(?!^)"), "  "), F.lit(" ")
        )
        applied = spaced
        for pair in merges:
            x, y = pair[0], pair[1]
            applied = F.replace(
                applied, F.lit(f" {x}  {y} "), F.lit(f" {x}{y} ")
            )
        return F.size(F.split(F.trim(applied), "  "))

    d = read_table(spark, sf_dir, "documents")
    d = d.where(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")).select(
        "doc_id",
        "source",
        F.aggregate(
            F.split(F.trim(F.lower("text")), r"\s+"),
            F.lit(0).cast("long"),
            lambda acc, w: acc + bpe_units(w).cast("long"),
        ).alias("n_tokens"),
    )
    d = keyed_cumsum(
        d, "source", ["doc_id"], _doc_id_bucket(), "n_tokens",
        out_col="cum_before", include_current=False,
    )
    cum_before = F.col("cum_before")
    return d.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(cum_before / PACK_TOKENS).alias("seq_id"),
        (cum_before % PACK_TOKENS).alias("offset_in_seq"),
        (
            F.floor((cum_before + F.col("n_tokens") - 1) / PACK_TOKENS)
            - F.floor(cum_before / PACK_TOKENS)
            + 1
        ).alias("seq_span"),
    )


PACK_SEQUENCES_BPE_ORACLE = rf"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
), words AS (
  SELECT word, count(*) AS freq FROM t WHERE word <> '' GROUP BY word
), prs AS (
  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, freq
  FROM (SELECT word, freq, unnest(range(1, length(word))) AS i
        FROM words WHERE length(word) >= 2)
), counts AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM prs GROUP BY pair
), ranked_pairs AS (
  SELECT pair, row_number() OVER (ORDER BY pair_count DESC, pair) AS prank
  FROM counts
), m1 AS (SELECT pair FROM ranked_pairs WHERE prank = 1),
m2 AS (SELECT pair FROM ranked_pairs WHERE prank = 2),
d AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
         (SELECT pair FROM m1) AS p1, (SELECT pair FROM m2) AS p2
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), cnt AS (
  SELECT doc_id, source,
         CAST(list_sum(list_transform(toks, w ->
           len(regexp_split_to_array(trim(
             replace(
               replace(
                 ' ' || array_to_string(
                     list_transform(range(1, length(w) + 1),
                                    i -> substr(w, CAST(i AS INTEGER), 1)),
                     '  ') || ' ',
                 ' ' || substr(p1, 1, 1) || '  ' || substr(p1, 2, 1) || ' ',
                 ' ' || p1 || ' '),
               ' ' || substr(p2, 1, 1) || '  ' || substr(p2, 2, 1) || ' ',
               ' ' || p2 || ' ')
           ), '  '))
         )) AS BIGINT) AS n_tokens
  FROM d
), c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM cnt
)
SELECT doc_id, source, n_tokens,
       CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_TOKENS} AS BIGINT) AS offset_in_seq,
       CAST(floor((cum_before + n_tokens - 1) / {PACK_TOKENS})
            - floor(cum_before / {PACK_TOKENS}) + 1 AS BIGINT) AS seq_span
FROM c
"""

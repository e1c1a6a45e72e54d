"""Corpus sharding: pack documents into ~equal-token output shards
(beyond reference scope; SURVEY.md §2.12 posture — the write-side step of
a training-data pipeline: fixed token-budget shards feed deterministic
data loaders, and shard boundaries must be reproducible).

Shard assignment is a GLOBAL running total of token counts in a stable
document order — a distributed prefix sum. The naive Spark expression
(`sum().over(Window.orderBy(id))` with no partition key) moves the whole
corpus into ONE task — the canonical window-function scale trap. Here it
is the un-keyed two-pass spine (``skew.keyed_cumsum_two_pass`` with
``key_col=None``): documents bucket by fixed-width id ranges
(order-preserving), per-bucket cumsums run fully parallel, and the tiny
per-bucket summary's exclusive prefix sum shifts each bucket by its
global offset. Always two-pass: no dispatch count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.operators.skew import keyed_cumsum_two_pass
from nbi_oedi_etl_spark.operators.text import token_count

#: Width (in doc_id units) of the order-preserving id buckets.
_BUCKET_DOCS = 4096


def token_budget_shards(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Assign each document to a token-budget shard: shard_id =
    floor(exclusive-prefix-tokens / budget) in ascending doc_id order
    (a doc belongs to the shard its FIRST token lands in — next-fit
    packing, the deterministic rule both engines can reproduce). A NULL
    doc_id sorts first, as in ``ORDER BY doc_id NULLS FIRST``.

    Output: (doc_id, n_tokens, cum_tokens, shard_id); ``cum_tokens`` is
    the inclusive running total.
    """
    d = docs.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))
    d = keyed_cumsum_two_pass(
        d, None, ["doc_id"], F.floor(F.col("doc_id") / _BUCKET_DOCS), "n_tokens",
        out_col="cum_tokens",
    )
    shard = F.floor((F.col("cum_tokens") - F.col("n_tokens")) / budget_tokens)
    return d.select("doc_id", "n_tokens", "cum_tokens", shard.alias("shard_id"))

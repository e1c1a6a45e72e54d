"""Skew-handling operators — the 100 TB posture for hot keys
(SURVEY.md §7.4.9, §4 'salting for skewed states').

AQE's skew-join splitting handles most cases automatically
(``spark.sql.adaptive.skewJoin.enabled``, on in session.py). These
operators cover the aggregation- and window-side cases AQE doesn't:

- **salted two-phase aggregation**: a grouped agg where one key holds a
  huge share of rows (e.g. state=CA in the reference's lake) bottlenecks
  one reducer. Salting splits each key into N subkeys for a partial agg,
  then combines — two small shuffles instead of one stuck task.
- **the two-pass spine**: ordered windows (sessions, running sums,
  ranks, cumsums) keyed on a hot key — or un-keyed, where the "key" is
  the whole table — run as one bucket-offset prefix sum
  (``_bucketed_prefix``) whose parallelism unit is (key, bucket).

Only algebraic aggregates (sum/count/min/max → avg) can be two-phased;
count-distinct needs the exact dual-shuffle Spark already plans.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def salted_grouped_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    salt_buckets: int = 16,
    count_alias: str = "n_rows",
) -> DataFrame:
    """Two-phase grouped sum+count immune to key skew.

    Phase 1 groups by (keys…, salt) — hot keys split across
    ``salt_buckets`` reducers; phase 2 combines the partials by key alone
    (at most ``salt_buckets`` rows per key — trivially small).

    The salt is random-per-row but the RESULT is exact and deterministic:
    sums/counts are salt-invariant.
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("__salt")
    phase1 = (
        df.select(*[F.col(f"`{c}`") for c in group_cols], salt, *[F.col(f"`{c}`") for c in sum_cols])
        .groupBy(*[F.col(f"`{c}`") for c in group_cols], F.col("__salt"))
        .agg(
            *[F.sum(F.col(f"`{c}`")).alias(f"__s_{c}") for c in sum_cols],
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return phase1.groupBy(*[F.col(f"`{c}`") for c in group_cols]).agg(
        *[F.sum(F.col(f"`__s_{c}`")).alias(f"{c}_sum") for c in sum_cols],
        F.sum("__n").alias(count_alias),
    )


#: Columns the bucketed-prefix core builds and drops.
_SPINE_INTERNALS = frozenset({"__bucket", "__wval", "__total", "__prefix", "__sk", "__sb"})


def _check_spine_inputs(
    df: DataFrame,
    internals: frozenset[str],
    bucket_seconds: float = 1.0,
    gap_seconds: float = 0.0,
) -> None:
    """The spine operators build-and-drop internal columns; a same-named
    input column would be silently destroyed (the ingest_untrusted
    collision lesson). Fail loudly instead, and reject degenerate knobs."""
    clash = internals & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with spine internals: {sorted(clash)}")
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    if gap_seconds < 0:
        raise ValueError(f"gap_seconds must be non-negative, got {gap_seconds}")


def _keys(key_col: str | None) -> list[Column]:
    return [] if key_col is None else [F.col(f"`{key_col}`")]


def _in_bucket(key_col: str | None, order_cols: Sequence[Column]) -> WindowSpec:
    """The fact-row window: partitioned on (key, bucket), never the key alone."""
    return Window.partitionBy(*_keys(key_col), "__bucket").orderBy(*order_cols)


def _stitch_spine(rows: DataFrame, spine: DataFrame, key_col: str | None) -> DataFrame:
    """Join the spine back to the fact rows on (key, bucket) — on the
    bucket alone when un-keyed.

    NULL-SAFE equality: a NULL key (or a NULL bucket from a NULL
    timestamp or id) is a legitimate window partition that the naive
    single-window forms keep, so an inner equi-join that drops NULL keys
    would silently lose those rows and make spine-vs-naive results
    dispatch-dependent. ``<=>`` keys are supported by broadcast hash
    joins, so the stitch plan shape is unchanged.

    No join hint: AQE sizes the spine AT RUNTIME (it is the output of a
    shuffle stage) and broadcasts it when it fits
    ``autoBroadcastJoinThreshold``, falling back to a shuffle join on
    (key, bucket) when extreme key cardinality makes the spine (distinct
    keys × non-empty buckets) outgrow the broadcast/driver budget. The
    fallback stays skew-free: the hot key is still bucket-split on the
    fact side.
    """
    sp = spine.withColumnRenamed("__bucket", "__sb")
    cond = F.col("__bucket").eqNullSafe(F.col("__sb"))
    if key_col is not None:
        sp = sp.withColumnRenamed(key_col, "__sk")
        cond = F.col(f"`{key_col}`").eqNullSafe(F.col("__sk")) & cond
    return rows.join(sp, cond, "inner").drop("__sk", "__sb")


def _bucketed_prefix(
    df: DataFrame,
    key_col: str | None,
    bucket: Column,
    order_cols: Sequence[Column],
    within: Callable[[WindowSpec], Column],
    total: Column,
    out_col: str,
    *,
    spine_aggs: Sequence[Column] = (),
    spine: Callable[[DataFrame, WindowSpec], DataFrame] | None = None,
) -> DataFrame:
    """The one bucket-offset prefix sum (Blelloch, "Prefix Sums and Their
    Applications", 1990) behind every two-pass form:

    1. WITHIN — rows shuffle once to (key, bucket); ``within(w)`` is each
       row's value over ``w``, the window partitioned on (key, bucket)
       and ordered by ``order_cols``. A key holding 90% of all rows
       spreads over its non-empty buckets instead of one task.
    2. SPINE — one row per (key, non-empty bucket) carrying the aggregate
       ``total``; ``__prefix`` is its exclusive sum over the key's
       earlier buckets, 0 for the first (coalesced to the sum's type).
       The spine is bounded by the bucket universe, not the row count.
       ``spine(sp, by_key)``, when given, rewrites the grouped spine
       (``total`` plus the named ``spine_aggs``) before the prefix; it
       must leave ``__total``, and any other column it keeps travels to
       the rows for the caller to use and drop.
    3. STITCH — the spine joins back null-safely (``_stitch_spine``);
       ``out_col`` = ``__prefix`` + the row's within value.

    ``key_col=None`` is the un-keyed (global) form: the fact window
    partitions on the bucket alone and the prefix window runs un-keyed
    over the spine rows — one task, but over |buckets| rows.

    Caller contract: ``bucket`` is monotone non-decreasing in
    ``order_cols`` within each key, else rows land in prefix buckets out
    of order and the result is silently wrong.
    """
    keys = _keys(key_col)
    rows = df.withColumn("__bucket", bucket)
    rows = rows.withColumn("__wval", within(_in_bucket(key_col, order_cols)))
    by_key = Window.partitionBy(*keys).orderBy("__bucket")
    sp = rows.groupBy(*keys, "__bucket").agg(total.alias("__total"), *spine_aggs)
    if spine is not None:
        sp = spine(sp, by_key)
    prefix = F.sum("__total").over(by_key.rowsBetween(Window.unboundedPreceding, -1))
    sp = sp.withColumn("__prefix", F.coalesce(prefix, F.lit(0))).drop("__total")
    out = _stitch_spine(rows, sp, key_col)
    return out.withColumn(out_col, F.col("__prefix") + F.col("__wval")).drop(
        "__bucket", "__wval", "__prefix"
    )


def _epoch_seconds(df: DataFrame, ts_col: str) -> Column:
    """Timestamp-or-numeric → epoch seconds as DOUBLE. TIMESTAMP_NTZ has
    no direct double cast under ANSI — route it through TIMESTAMP (the
    session is UTC-pinned, so NTZ values are unchanged)."""
    dtype = dict(df.dtypes)[ts_col]
    col = F.col(f"`{ts_col}`")
    if dtype.startswith("timestamp"):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


def _time_bucket(sec: Column, bucket_seconds: float) -> Column:
    return F.floor(sec / F.lit(float(bucket_seconds)))


def sessionize_two_pass_spine(
    df: DataFrame,
    key_col: str | None,
    ts_col: str,
    gap_seconds: float,
    bucket_seconds: float = 3600.0,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-timeout sessionization immune to hot-key skew — the "two-pass
    spine" mitigation SCALE.md documents for the per-key window class.

    The naive sessionizer (``Window.partitionBy(key).orderBy(ts)``) puts
    ALL of a key's rows on one task: a frac-hot entity serializes frac of
    the stage (the frac×P imbalance bound the skew probe measures). Here
    the within-bucket pass flags gap starts and counts them
    (``__wflag``), the spine carries each bucket's first/last timestamp,
    and a bucket's first event starts a session iff the gap from the
    PREVIOUS NON-EMPTY bucket's last event exceeds the timeout (correct
    across empty buckets). The core's prefix runs over each bucket's
    starts; ``session_id`` = prefix + first-row start + within-bucket
    running count — identical numbering to the naive single-window form.

    Exactness: equal timestamps can never split a session (gap 0 ≤
    timeout), so the result is order-stable under ties; equivalence with
    the naive sessionizer is pinned in tests/test_quarantine_skew.py on
    clean AND 90%-hot grown corpora. Sessions are numbered 1..N per key
    in time order.
    """
    _check_spine_inputs(
        df,
        _SPINE_INTERNALS | {"__sec", "__wflag", "__first", "__last", "__fstart"},
        bucket_seconds,
        gap_seconds,
    )
    sec = _epoch_seconds(df, ts_col)
    rows = df.withColumn("__sec", sec).withColumn(
        "__bucket", _time_bucket(F.col("__sec"), bucket_seconds)
    )
    in_bucket = _in_bucket(key_col, [F.col("__sec")])
    gap = F.lit(float(gap_seconds))
    # Within-bucket start flag; a bucket's FIRST row is resolved by the
    # spine. NULL-timestamp rows (all land in the NULL bucket, ordered
    # first) replicate the naive form's semantics exactly: ``lag(sec)``
    # over a NULL-sec predecessor is NULL there, so naive flags EVERY
    # null-ts row as its own session start — here that is "any row with a
    # predecessor in the NULL bucket flags 1" (the ``__sec IS NULL`` arm;
    # bucket membership guarantees prev_sec is NULL too), and the
    # bucket-first row's start comes from the spine (prev_last of the
    # NULL bucket is NULL → fstart=1, and the first NON-null bucket after
    # it also sees prev_last NULL → fstart=1, matching naive's first
    # non-null row).
    has_prev = F.lag(F.lit(1)).over(in_bucket).isNotNull()
    prev_gap = F.col("__sec") - F.lag("__sec").over(in_bucket)
    rows = rows.withColumn(
        "__wflag",
        F.when(has_prev & (F.col("__sec").isNull() | (prev_gap > gap)), 1).otherwise(0),
    )

    def starts(sp: DataFrame, by_key: WindowSpec) -> DataFrame:
        prev_last = F.lag("__last").over(by_key)
        first_is_start = prev_last.isNull() | (F.col("__first") - prev_last > gap)
        return (
            sp.withColumn("__fstart", first_is_start.cast("int"))
            .withColumn("__total", F.col("__fstart") + F.col("__total"))
            .drop("__first", "__last")
        )

    out = _bucketed_prefix(
        rows,
        key_col,
        F.col("__bucket"),
        [F.col("__sec")],
        lambda w: F.sum("__wflag").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
        F.sum("__wflag"),
        session_col,
        spine_aggs=[F.min("__sec").alias("__first"), F.max("__sec").alias("__last")],
        spine=starts,
    )
    session_id = (F.col(f"`{session_col}`") + F.col("__fstart")).cast("long")
    return out.withColumn(session_col, session_id).drop("__sec", "__wflag", "__fstart")


def running_sum_two_pass_spine(
    df: DataFrame,
    key_col: str | None,
    ts_col: str,
    value_col: str,
    bucket_seconds: float = 3600.0,
    out_col: str = "running_sum",
) -> DataFrame:
    """Per-key running sum over time immune to hot-key skew: a
    within-bucket RANGE-frame ``sum`` plus the core's prefix of bucket
    totals. ``key_col=None`` is the GLOBAL running sum
    (``Window.orderBy(ts)`` with no partition moves every row through one
    task; here the parallelism unit is the time bucket).

    Tie semantics: both this and the naive form use the RANGE frame
    (all rows with ts' ≤ ts included), so equal timestamps share one
    running value and the result is deterministic under tie reordering
    — the ROWS frame would be order-dependent and irreproducible on any
    engine. Equivalence with the naive single-window RANGE form is
    pinned in tests/test_quarantine_skew.py.
    """
    _check_spine_inputs(df, _SPINE_INTERNALS, bucket_seconds)
    sec = _epoch_seconds(df, ts_col)
    value = F.col(f"`{value_col}`")
    return _bucketed_prefix(
        df,
        key_col,
        _time_bucket(sec, bucket_seconds),
        [sec],
        lambda w: F.sum(value).over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        ),
        F.sum(value),
        out_col,
    )


def rank_two_pass_spine(
    df: DataFrame,
    key_col: str | None,
    ts_col: str,
    bucket_seconds: float = 3600.0,
    out_col: str = "rank",
) -> DataFrame:
    """Per-key SQL RANK() by time immune to hot-key skew (top-k-per-group
    is a rank filter on it); ``key_col=None`` is the GLOBAL rank —
    position in the globally sorted stream.

    rank(e) = #rows of the key strictly earlier than e, plus 1 — the
    tie-stable SQL RANK (ties share a rank; ROW_NUMBER is order-dependent
    under ties and CANNOT be made deterministic without a tiebreaker, so
    it is deliberately not offered). Within a bucket that is ``rank()``
    over the bucket's rows; the spine counts each bucket's rows for the
    earlier-bucket prefix. Equal timestamps always share one bucket, so
    prefix rows are strictly earlier by construction.
    """
    _check_spine_inputs(df, _SPINE_INTERNALS, bucket_seconds)
    sec = _epoch_seconds(df, ts_col)
    return _bucketed_prefix(
        df,
        key_col,
        _time_bucket(sec, bucket_seconds),
        [sec],
        lambda w: F.rank().over(w),
        F.count(F.lit(1)),
        out_col,
    )


def naive_rank(
    df: DataFrame, key_col: str, ts_col: str, out_col: str = "rank"
) -> DataFrame:
    """Single-window RANK() by time — the equivalence oracle for
    ``rank_two_pass_spine``."""
    w = Window.partitionBy(f"`{key_col}`").orderBy(_epoch_seconds(df, ts_col))
    return df.withColumn(out_col, F.rank().over(w).cast("long"))


def naive_running_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Single-window RANGE-frame running sum — the equivalence oracle for
    ``running_sum_two_pass_spine`` and the right choice with no hot key."""
    sec = _epoch_seconds(df, ts_col)
    w = (
        Window.partitionBy(f"`{key_col}`")
        .orderBy(sec)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(F.col(f"`{value_col}`")).over(w))


def naive_sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: float,
    session_col: str = "session_id",
) -> DataFrame:
    """Single-window gap sessionizer — the textbook form (one per-key sort
    on one task). The equivalence oracle for ``sessionize_two_pass_spine``
    and the right choice when no key is hot."""
    sec = _epoch_seconds(df, ts_col)
    w = Window.partitionBy(f"`{key_col}`").orderBy(sec)
    flag = F.when(
        F.lag(sec).over(w).isNull()
        | (sec - F.lag(sec).over(w) > F.lit(float(gap_seconds))),
        1,
    ).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(flag)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )


def keyed_cumsum_two_pass(
    df: DataFrame,
    key_col: str | None,
    order_cols: Sequence[str],
    bucket_col: Column,
    value_col: str,
    out_col: str = "cum_sum",
    include_current: bool = True,
) -> DataFrame:
    """Per-key cumulative sum over an ARBITRARY monotone order, immune to
    hot-key skew: a within-bucket ROWS-frame ``sum`` plus the core's
    prefix of bucket totals, for orders that are not a timestamp (the
    packing/budget cumsums order by ``doc_id`` and ``(md5, doc_id)``).
    ``key_col=None`` is the GLOBAL cumsum (with value 1, a global
    row_number).

    Caller contract (checked where cheap, documented where not):

    - ``bucket_col`` MUST be monotone non-decreasing in the
      ``order_cols`` tuple within each key (e.g. ``floor(doc_id/1000)``
      for an integer id order; ``conv(substring(h,1,2),16,10)`` for an
      md5-hex order — hex digits sort identically by ASCII and by value),
      else rows land in prefix buckets out of order and the result is
      silently wrong. The equivalence tests pin this for the shipped
      bucketizers.
    - the ``order_cols`` tuple must be UNIQUE per key (the packing specs
      order by a unique doc_id): the within-bucket frame is ROWS-based,
      so duplicate order tuples would make the cumsum order-dependent.
      Use the RANGE-frame timestamp form when ties are possible.

    ``include_current=False`` yields the EXCLUSIVE prefix sum (the
    "tokens before this doc" quantity the concat-and-cut packers need),
    coalesced to 0 for each key's first row.
    """
    _check_spine_inputs(df, _SPINE_INTERNALS)
    upper = Window.currentRow if include_current else -1
    value = F.col(f"`{value_col}`")
    return _bucketed_prefix(
        df,
        key_col,
        bucket_col,
        [F.col(f"`{c}`") for c in order_cols],
        lambda w: F.coalesce(
            F.sum(value).over(w.rowsBetween(Window.unboundedPreceding, upper)), F.lit(0)
        ),
        F.sum(value),
        out_col,
    )


def naive_keyed_cumsum(
    df: DataFrame,
    key_col: str | None,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cum_sum",
    include_current: bool = True,
) -> DataFrame:
    """Single-window ROWS-frame keyed cumsum — the equivalence oracle for
    ``keyed_cumsum_two_pass`` and the right plan when no key is hot
    (``key_col=None``: the direct global window, one task)."""
    upper = Window.currentRow if include_current else -1
    w = (
        Window.partitionBy(*_keys(key_col))
        .orderBy(*[F.col(f"`{c}`") for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return df.withColumn(
        out_col, F.coalesce(F.sum(F.col(f"`{value_col}`")).over(w), F.lit(0))
    )


#: Measured naive↔spine crossover (SCALE.md "two-pass spine, implemented
#: and measured", local[32], median-of-3, forced window evaluation): at
#: 0.9M rows on one key the two forms are at parity (1.48 s vs 1.46 s);
#: by 20M rows on one key the spine wins 3.0–4.15×. Below ~1M rows/key
#: the naive single-window form is the right plan (one shuffle, no join).
SPINE_CROSSOVER_ROWS_PER_KEY = 1_000_000


def _max_rows_per_key(df: DataFrame, key_col: str | None) -> int:
    """Hottest-key row count (the row count when un-keyed): one
    key-column-pruned aggregate with map-side partial counts (the shuffle
    carries one row per distinct key per map task). This is the dispatch
    probe — a deliberate extra pass, cheap relative to the window work it
    sizes; pass ``max_rows_per_key`` to skip it when already known."""
    if key_col is None:
        return df.count()
    row = (
        df.select(F.col(f"`{key_col}`"))
        .groupBy(f"`{key_col}`")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__hot"))
        .first()
    )
    return int(row["__hot"] or 0)


def keyed_cumsum(
    df: DataFrame,
    key_col: str | None,
    order_cols: Sequence[str],
    bucket_col: Column,
    value_col: str,
    out_col: str = "cum_sum",
    include_current: bool = True,
    max_rows_per_key: int | None = None,
) -> DataFrame:
    """Keyed-cumsum front door: measures the hottest key's row count (the
    row count when ``key_col`` is None; skipped when ``max_rows_per_key``
    is supplied). Below the measured ~1M rows/key crossover the naive
    single-window form runs (one shuffle, no join); at/above it the
    two-pass spine keeps the parallelism unit at (key, bucket) — a
    90%-hot source in a packing mixture no longer serializes the stage.
    Both branches produce identical values (equivalence pinned in
    tests/test_quarantine_skew.py on balanced AND hot-source corpora)."""
    probed = max_rows_per_key is None
    hot = _max_rows_per_key(df, key_col) if probed else max_rows_per_key
    two_pass = hot >= SPINE_CROSSOVER_ROWS_PER_KEY
    # The probe is an EAGER Spark job inside a transform-shaped API —
    # log the decision so the surprise is at least visible.
    _log.info(
        "spine dispatch on %r: max_rows_per_key=%d (%s), crossover %d -> %s",
        key_col,
        hot,
        "probed" if probed else "caller-supplied",
        SPINE_CROSSOVER_ROWS_PER_KEY,
        "two-pass spine" if two_pass else "naive window",
    )
    if two_pass:
        return keyed_cumsum_two_pass(
            df, key_col, order_cols, bucket_col, value_col, out_col, include_current
        )
    return naive_keyed_cumsum(
        df, key_col, order_cols, value_col, out_col, include_current
    )

"""Tests for per-file error quarantine (§7.4.7) and skew-salting operators."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from nbi_oedi_etl_spark.operators.skew import salted_grouped_sum
from nbi_oedi_etl_spark.sources.quarantine import read_with_quarantine
from nbi_oedi_etl_spark.sources import read_table

from .conftest import SF_SMALL


def test_quarantine_drops_corrupt_file_and_reports(spark, tmp_path):
    """Reference drop-and-report semantics (transform.py:168-170 +
    monitor discrepancy): corrupt file skipped, good data intact, report
    names the bad file."""
    good1 = tmp_path / "a.parquet"
    good2 = tmp_path / "b.parquet"
    bad = tmp_path / "c.parquet"
    pd.DataFrame({"x": [1, 2]}).to_parquet(good1, index=False)
    pd.DataFrame({"x": [3]}).to_parquet(good2, index=False)
    bad.write_bytes(b"PAR1 this is not really parquet")

    df, report = read_with_quarantine(spark, [str(good1), str(good2), str(bad)])
    assert sorted(r["x"] for r in df.collect()) == [1, 2, 3]
    assert report.quarantined == [str(bad)]
    assert len(report.readable) == 2
    # the scoped conf did not leak
    assert spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "false"


def test_salted_grouped_sum_matches_plain_agg(spark):
    """Salting must be result-invariant: same sums/counts as the direct
    groupBy."""
    li = read_table(spark, SF_SMALL, "lineitem")
    salted = salted_grouped_sum(
        li, ["l_returnflag"], ["l_quantity"], salt_buckets=16
    )
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("l_quantity_sum"), F.count(F.lit(1)).alias("n_rows")
    )
    s = {r["l_returnflag"]: (r["l_quantity_sum"], r["n_rows"]) for r in salted.collect()}
    p = {r["l_returnflag"]: (r["l_quantity_sum"], r["n_rows"]) for r in plain.collect()}
    assert s.keys() == p.keys()
    for k in p:
        assert s[k][1] == p[k][1]
        assert abs(s[k][0] - p[k][0]) < 1e-6 * max(1.0, abs(p[k][0]))


def test_salted_grouped_sum_on_dotted_oedi_names(spark):
    """Every OEDI measure is a dotted name (``out.electricity.total``):
    the salted partials must be read back literally, not as a nested
    field path, and match the plain groupBy."""
    df = spark.createDataFrame(
        [("CA", 1.5, 2.0), ("CA", 2.5, 1.0), ("NY", 3.0, 4.0), (None, 7.0, 0.5)]
        * 5,
        ["in.state", "out.electricity.total", "out.natural_gas.total"],
    )
    measures = ["out.electricity.total", "out.natural_gas.total"]
    salted = salted_grouped_sum(df, ["in.state"], measures, salt_buckets=4)
    plain = df.groupBy(F.col("`in.state`")).agg(
        *[F.sum(F.col(f"`{c}`")).alias(f"{c}_sum") for c in measures],
        F.count(F.lit(1)).alias("n_rows"),
    )
    assert salted.columns == plain.columns
    got = {r[0]: tuple(r[1:]) for r in salted.collect()}
    want = {r[0]: tuple(r[1:]) for r in plain.collect()}
    assert got.keys() == want.keys() == {"CA", "NY", None}
    for k, w in want.items():
        assert got[k][-1] == w[-1]
        for g, x in zip(got[k][:-1], w[:-1]):
            assert abs(g - x) < 1e-9


# ---- two-pass spine sessionizer (the documented skew mitigation) ----

def _session_summary(df, key_col):
    """Order-insensitive per-session fingerprint: (key, session, n, span)."""
    return sorted(
        map(
            tuple,
            df.groupBy(key_col, "session_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("ts").alias("s"),
                F.max("ts").alias("e"),
            )
            .collect(),
        )
    )


def test_two_pass_spine_sessionizer_matches_naive_on_events(spark):
    from nbi_oedi_etl_spark.operators.skew import (
        naive_sessionize,
        sessionize_two_pass_spine,
    )

    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts")
    gap = 1800.0
    a = _session_summary(
        naive_sessionize(ev, "user_id", "ts", gap), "user_id"
    )
    b = _session_summary(
        sessionize_two_pass_spine(ev, "user_id", "ts", gap, bucket_seconds=3600.0),
        "user_id",
    )
    assert a == b and len(a) > 0


def test_two_pass_spine_handles_empty_buckets_and_boundaries(spark):
    """Sessions must stitch across EMPTY buckets (gap measured between
    non-empty neighbors) and split exactly at the timeout, regardless of
    where bucket edges fall."""
    import datetime as dt

    from nbi_oedi_etl_spark.operators.skew import (
        naive_sessionize,
        sessionize_two_pass_spine,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user A: events hugging bucket edges, 10s bucket / 15s gap
    for off in [0, 5, 9, 11, 14, 40, 41, 90, 104, 105, 121]:
        rows.append(("a", t0 + dt.timedelta(seconds=off)))
    # user B: one event only
    rows.append(("b", t0))
    # user C: every event its own session
    for off in [0, 100, 200, 300]:
        rows.append(("c", t0 + dt.timedelta(seconds=off)))
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    gap = 15.0
    a = _session_summary(naive_sessionize(df, "user_id", "ts", gap), "user_id")
    for bucket in (10.0, 7.0, 1000.0):
        b = _session_summary(
            sessionize_two_pass_spine(
                df, "user_id", "ts", gap, bucket_seconds=bucket
            ),
            "user_id",
        )
        assert a == b, f"bucket_seconds={bucket}"


def test_two_pass_spine_matches_naive_on_hot_grown_corpus(spark, tmp_path):
    """The mitigation must stay EXACT on the corpus it exists for: 90% of
    all events on one user (the skew probe's grow-mode shape)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.operators.skew import (
        naive_sessionize,
        sessionize_two_pass_spine,
    )

    t = pq.read_table(f"{SF_SMALL}/events.parquet", columns=["user_id", "ts"])
    n = t.num_rows
    idx = pa.array([j % n for j in range(9 * n)], type=pa.int64())
    extra = t.take(idx)
    i = t.schema.get_field_index("user_id")
    fld = t.schema.field("user_id")
    hot = t.column("user_id").to_pylist()[0]
    extra = extra.set_column(i, fld, pa.array([hot] * (9 * n), type=fld.type))
    pq.write_table(
        pa.concat_tables([t, extra]), tmp_path / "events_hot.parquet"
    )
    ev = spark.read.parquet(str(tmp_path / "events_hot.parquet")).select(
        "user_id", "ts"
    )
    gap = 1800.0
    a = _session_summary(naive_sessionize(ev, "user_id", "ts", gap), "user_id")
    b = _session_summary(
        sessionize_two_pass_spine(ev, "user_id", "ts", gap, bucket_seconds=3600.0),
        "user_id",
    )
    assert a == b and len(a) > 0


def test_two_pass_spine_property_random_corpora(spark):
    """Property form of the equivalence: random (key, ts) multisets —
    duplicate timestamps, bursts, singletons — at adversarial
    gap/bucket combinations (bucket smaller than, equal to, and larger
    than the gap) must sessionize identically to the naive form."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from nbi_oedi_etl_spark.operators.skew import (
        naive_sessionize,
        sessionize_two_pass_spine,
    )

    t0 = dt.datetime(2024, 1, 1)

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c"]),
                st.integers(min_value=0, max_value=5000),
            ),
            min_size=1,
            max_size=60,
        ),
        gap=st.sampled_from([1.0, 30.0, 500.0]),
        bucket=st.sampled_from([7.0, 30.0, 4000.0]),
    )
    def check(rows, gap, bucket):
        df = spark.createDataFrame(
            [(k, t0 + dt.timedelta(seconds=s)) for k, s in rows],
            ["user_id", "ts"],
        )
        a = _session_summary(naive_sessionize(df, "user_id", "ts", gap), "user_id")
        b = _session_summary(
            sessionize_two_pass_spine(df, "user_id", "ts", gap, bucket_seconds=bucket),
            "user_id",
        )
        assert a == b

    check()


# ---- two-pass spine running sum (the cumulative window-class member) ----

def _running_summary(df, key_col):
    return sorted(
        map(
            tuple,
            df.groupBy(key_col)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("running_sum"), 6).alias("sum_of_running"),
                F.round(F.max("running_sum"), 6).alias("final"),
            )
            .collect(),
        )
    )


def test_running_sum_spine_matches_naive_on_events(spark):
    from nbi_oedi_etl_spark.operators.skew import (
        naive_running_sum,
        running_sum_two_pass_spine,
    )

    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts", "value")
    a = _running_summary(
        naive_running_sum(ev, "user_id", "ts", "value"), "user_id"
    )
    b = _running_summary(
        running_sum_two_pass_spine(
            ev, "user_id", "ts", "value", bucket_seconds=3600.0
        ),
        "user_id",
    )
    assert a == b and len(a) > 0


def test_running_sum_spine_property_random_corpora(spark):
    """Duplicate timestamps MUST share one running value (RANGE frame) in
    both forms; random corpora across bucket widths must agree exactly."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from nbi_oedi_etl_spark.operators.skew import (
        naive_running_sum,
        running_sum_two_pass_spine,
    )

    t0 = dt.datetime(2024, 1, 1)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(["a", "b"]),
                st.integers(min_value=0, max_value=3000),
                st.integers(min_value=-5, max_value=9),
            ),
            min_size=1,
            max_size=50,
        ),
        bucket=st.sampled_from([13.0, 3600.0]),
    )
    def check(rows, bucket):
        df = spark.createDataFrame(
            [(k, t0 + dt.timedelta(seconds=s), float(v)) for k, s, v in rows],
            ["user_id", "ts", "value"],
        )
        # per-ROW comparison, not just summaries: ties must carry the
        # identical shared running value in both forms
        a = sorted(
            map(
                tuple,
                naive_running_sum(df, "user_id", "ts", "value").select(
                    "user_id", "ts", "value", F.round("running_sum", 6)
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                running_sum_two_pass_spine(
                    df, "user_id", "ts", "value", bucket_seconds=bucket
                ).select(
                    "user_id", "ts", "value", F.round("running_sum", 6)
                ).collect(),
            )
        )
        assert a == b

    check()


def _window_partition_specs(plan: str) -> list[tuple[str, str]]:
    """(partition-spec, full-line) for every Window node in a plan string.

    A physical Window prints ``Window [exprs], [partitionSpec], [orderSpec]``
    — classify nodes by the PARTITION bracket group, not a whole-line
    substring (ADVICE r8: spine windows ORDER BY __bucket, so the old
    ``'__bucket' in line`` test put every window in the fact class and the
    spine assertion was vacuous)."""
    import re

    out = []
    for ln in plan.splitlines():
        if not ln.lstrip("+-*: ").startswith("Window"):
            continue
        groups = re.findall(r"\[([^\[\]]*)\]", ln)
        # trailing bracket groups are [partitionSpec], [orderSpec], but
        # EMPTY specs are omitted from the printed node: an unordered
        # window (the rank tie-group count) prints [exprs], [partition],
        # and an UNPARTITIONED window prints [exprs], [order] — order
        # entries always carry ASC/DESC, partition entries never do
        assert len(groups) >= 2, ln
        if len(groups) == 2:
            last = groups[-1]
            spec = "" if (" ASC" in last or " DESC" in last) else last
        else:
            spec = groups[-2]
        out.append((spec, ln))
    return out


def test_two_pass_spine_plan_never_partitions_facts_by_key_alone(spark):
    """Structural pin of the scale property: every Window that partitions
    on the key ALONE must be the spine's per-key pass (frames over
    bucket-grain aggregates, never fact-row expressions — a key-only
    fact window would recreate the single-task hot spot); fact windows
    partition on (key, __bucket). At test scale AQE must bring the spine
    back as a broadcast join (no second fact shuffle), read from the
    final adaptive plan after the collect."""
    from nbi_oedi_etl_spark.operators.skew import (
        rank_two_pass_spine,
        running_sum_two_pass_spine,
        sessionize_two_pass_spine,
    )

    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts", "value")
    for df in (
        sessionize_two_pass_spine(ev, "user_id", "ts", 1800.0),
        running_sum_two_pass_spine(ev, "user_id", "ts", "value"),
        rank_two_pass_spine(ev, "user_id", "ts"),
    ):
        df.collect()  # executes THIS QueryExecution, letting AQE finalize it
        plan = df._jdf.queryExecution().executedPlan().toString()
        windows = _window_partition_specs(plan)
        assert windows, plan
        fact_windows = [ln for spec, ln in windows if "__bucket" in spec]
        spine_windows = [ln for spec, ln in windows if "__bucket" not in spec]
        assert fact_windows, plan
        # the spine per-key window exists and frames ONLY bucket-grain
        # aggregate columns — this is the non-vacuous form of the old
        # substring check (it trips on a key-only fact window, whose
        # window expressions reference __sec/__wflag fact columns)
        assert spine_windows, plan
        for ln in spine_windows:
            assert any(
                tok in ln for tok in ("__total", "__first", "__last", "__starts", "__nwithin", "__cnt")
            ), ln
            assert "__sec" not in ln.split("], [")[0], ln
        assert "BroadcastHashJoin" in plan, plan


def test_two_pass_spine_default_adapts_to_runtime_spine_size(spark):
    """The stitch join carries no hint and defers its strategy to AQE:
    the spine is a shuffle-stage output, so AQE sees its
    ACTUAL size and broadcasts when it fits the threshold — the
    auto-fallback that keeps extreme key cardinality from blowing the
    driver budget (ADVICE r8). At test scale the spine is tiny, so the
    FINAL adaptive plan must have converted the stitch to a broadcast
    join at runtime with no hint present."""
    from nbi_oedi_etl_spark.operators.skew import sessionize_two_pass_spine

    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts")
    df = sessionize_two_pass_spine(ev, "user_id", "ts", 1800.0)
    # no hint anywhere in the logical plan
    assert "UnresolvedHint" not in df._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    df.collect()  # executes THIS QueryExecution, letting AQE finalize it
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_two_pass_spine_rejects_colliding_columns_and_bad_knobs(spark):
    import pytest as _pytest

    from nbi_oedi_etl_spark.operators.skew import (
        running_sum_two_pass_spine,
        sessionize_two_pass_spine,
    )

    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts", "value")
    clash = ev.withColumn("__bucket", F.lit(1))
    with _pytest.raises(ValueError, match="collide"):
        sessionize_two_pass_spine(clash, "user_id", "ts", 60.0)
    with _pytest.raises(ValueError, match="collide"):
        running_sum_two_pass_spine(clash, "user_id", "ts", "value")
    with _pytest.raises(ValueError, match="bucket_seconds"):
        sessionize_two_pass_spine(ev, "user_id", "ts", 60.0, bucket_seconds=0.0)
    with _pytest.raises(ValueError, match="gap_seconds"):
        sessionize_two_pass_spine(ev, "user_id", "ts", -1.0)


# ---- two-pass spine rank (the ranking window-class member) ----

def test_rank_spine_matches_naive_on_events(spark):
    from nbi_oedi_etl_spark.operators.skew import naive_rank, rank_two_pass_spine

    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts", "event_id")
    a = sorted(
        map(tuple, naive_rank(ev, "user_id", "ts").select(
            "user_id", "event_id", "rank").collect())
    )
    b = sorted(
        map(tuple, rank_two_pass_spine(ev, "user_id", "ts", bucket_seconds=3600.0)
            .select("user_id", "event_id", "rank").collect())
    )
    assert a == b and len(a) > 0


def test_rank_spine_property_random_corpora_with_ties(spark):
    """Tie-heavy random corpora: SQL RANK semantics (ties share a rank,
    next rank skips) must match per-row at every bucket width."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from nbi_oedi_etl_spark.operators.skew import naive_rank, rank_two_pass_spine

    t0 = dt.datetime(2024, 1, 1)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(["a", "b"]),
                st.integers(min_value=0, max_value=40),  # dense -> many ties
            ),
            min_size=1,
            max_size=50,
        ),
        bucket=st.sampled_from([3.0, 7.0, 3600.0]),
    )
    def check(rows, bucket):
        df = spark.createDataFrame(
            [(k, t0 + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(rows)],
            ["user_id", "ts", "row_id"],
        )
        a = sorted(map(tuple, naive_rank(df, "user_id", "ts").select(
            "user_id", "row_id", "rank").collect()))
        b = sorted(map(tuple, rank_two_pass_spine(
            df, "user_id", "ts", bucket_seconds=bucket).select(
            "user_id", "row_id", "rank").collect()))
        assert a == b

    check()


def test_spine_null_key_and_null_ts_parity_with_naive(spark):
    """r9 self-review regression: NULL keys are legitimate window
    partitions and NULL timestamps land in the NULL bucket — the spine
    forms must KEEP those rows and number them exactly like the naive
    single-window forms (previously the null-unsafe stitch join silently
    dropped them, making results dispatch-dependent)."""
    import datetime as dt

    from nbi_oedi_etl_spark.operators.skew import (
        naive_rank,
        naive_running_sum,
        naive_sessionize,
        rank_two_pass_spine,
        running_sum_two_pass_spine,
        sessionize_two_pass_spine,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i, (k, s) in enumerate([
        ("a", 0), ("a", 10), ("a", 4000), (None, 0), (None, 5), (None, 9000),
        ("b", None), ("b", None), ("b", 3), ("b", 7200),
        (None, None), (None, None), ("a", 10),  # tie; null key with null ts
    ]):
        ts = t0 + dt.timedelta(seconds=s) if s is not None else None
        rows.append((i, k, ts, float(i)))
    df = spark.createDataFrame(rows, ["id", "user_id", "ts", "value"])

    def both(name, a, b, cols):
        ra = sorted(map(tuple, a.select(*cols).collect()))
        rb = sorted(map(tuple, b.select(*cols).collect()))
        assert len(ra) == len(rows), f"{name}: naive lost rows"
        assert ra == rb, f"{name} diverged"

    for bucket in (7.0, 3600.0):
        both(
            f"sessionize b={bucket}",
            naive_sessionize(df, "user_id", "ts", 15.0),
            sessionize_two_pass_spine(df, "user_id", "ts", 15.0, bucket_seconds=bucket),
            ["id", "user_id", "session_id"],
        )
        both(
            f"running_sum b={bucket}",
            naive_running_sum(df, "user_id", "ts", "value"),
            running_sum_two_pass_spine(df, "user_id", "ts", "value", bucket_seconds=bucket),
            ["id", "user_id", "running_sum"],
        )
        both(
            f"rank b={bucket}",
            naive_rank(df, "user_id", "ts"),
            rank_two_pass_spine(df, "user_id", "ts", bucket_seconds=bucket),
            ["id", "user_id", "rank"],
        )


def test_spine_property_random_corpora_with_nulls(spark):
    """Property form of the r9 null-parity fix: random corpora where keys
    AND timestamps may be NULL must match the naive single-window forms
    per-row for all three spine operators."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from nbi_oedi_etl_spark.operators.skew import (
        naive_rank,
        naive_running_sum,
        naive_sessionize,
        rank_two_pass_spine,
        running_sum_two_pass_spine,
        sessionize_two_pass_spine,
    )

    t0 = dt.datetime(2024, 1, 1)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(["a", "b", None]),
                st.one_of(st.none(), st.integers(min_value=0, max_value=3000)),
                st.integers(min_value=-5, max_value=9),
            ),
            min_size=1,
            max_size=40,
        ),
        bucket=st.sampled_from([13.0, 3600.0]),
        gap=st.sampled_from([1.0, 40.0]),
    )
    def check(rows, bucket, gap):
        data = [
            (i, k, t0 + dt.timedelta(seconds=s) if s is not None else None, float(v))
            for i, (k, s, v) in enumerate(rows)
        ]
        # explicit schema: an all-null column defeats type inference
        df = spark.createDataFrame(
            data, "id long, user_id string, ts timestamp, value double"
        )
        for a, b, col in (
            (
                naive_sessionize(df, "user_id", "ts", gap),
                sessionize_two_pass_spine(df, "user_id", "ts", gap, bucket_seconds=bucket),
                "session_id",
            ),
            (
                naive_running_sum(df, "user_id", "ts", "value"),
                running_sum_two_pass_spine(df, "user_id", "ts", "value", bucket_seconds=bucket),
                "running_sum",
            ),
            (
                naive_rank(df, "user_id", "ts"),
                rank_two_pass_spine(df, "user_id", "ts", bucket_seconds=bucket),
                "rank",
            ),
        ):
            ra = sorted(map(tuple, a.select("id", col).collect()))
            rb = sorted(map(tuple, b.select("id", col).collect()))
            assert len(ra) == len(data), f"{col}: naive lost rows"
            assert ra == rb, f"{col} diverged on null-bearing corpus"

    check()


def test_global_two_pass_matches_naive_global_window(spark):
    """r9: the documented-but-unapplied 'bucket-offset two-pass prefix
    sum' for GLOBAL (un-keyed) windows is now an operator. Equivalence
    with the single-task Window.orderBy form, including exact ties and
    null timestamps, at two bucket widths."""
    import datetime as dt

    from pyspark.sql import Window

    from nbi_oedi_etl_spark.operators.skew import (
        rank_two_pass_spine,
        running_sum_two_pass_spine,
    )

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (i, t0 + dt.timedelta(seconds=s) if s is not None else None, float(v))
        for i, (s, v) in enumerate(
            [(0, 1), (0, 2), (5, 3), (3600, 4), (3600, 5), (7201, 6),
             (None, 7), (10, 8), (9999, 9)]
        )
    ]
    df = spark.createDataFrame(data, "id long, ts timestamp, value double")
    sec = F.col("ts").cast("double")
    w = Window.orderBy(sec).rangeBetween(Window.unboundedPreceding, Window.currentRow)
    naive_sum = df.withColumn("running_sum", F.sum("value").over(w))
    naive_rank_df = df.withColumn("rank", F.rank().over(Window.orderBy(sec)).cast("long"))
    a = sorted(map(tuple, naive_sum.select("id", "running_sum").collect()))
    c = sorted(map(tuple, naive_rank_df.select("id", "rank").collect()))
    for bucket in (7.0, 3600.0):
        b = sorted(map(tuple,
            running_sum_two_pass_spine(df, None, "ts", "value", bucket_seconds=bucket)
            .select("id", "running_sum").collect()))
        assert a == b, f"running_sum bucket={bucket}"
        d = sorted(map(tuple,
            rank_two_pass_spine(df, None, "ts", bucket_seconds=bucket)
            .select("id", "rank").collect()))
        assert c == d, f"rank bucket={bucket}"


def test_global_two_pass_plan_parallelizes_by_bucket(spark):
    """Structural pin: the naive global window plans a SINGLE-partition
    sort (Window with empty partition spec); the two-pass form's fact
    windows partition on the bucket — bucket-grain parallelism."""
    from pyspark.sql import Window

    from nbi_oedi_etl_spark.operators.skew import running_sum_two_pass_spine

    ev = read_table(spark, SF_SMALL, "events").select("ts", "value")
    sec = F.col("ts").cast("timestamp").cast("double")  # NTZ → double is 2 hops
    naive = ev.withColumn(
        "rs",
        F.sum("value").over(
            Window.orderBy(sec).rangeBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    naive_windows = _window_partition_specs(
        naive._jdf.queryExecution().executedPlan().toString()
    )
    assert naive_windows and all(spec.strip() == "" for spec, _ in naive_windows)

    spine = running_sum_two_pass_spine(ev, None, "ts", "value")
    windows = _window_partition_specs(
        spine._jdf.queryExecution().executedPlan().toString()
    )
    fact = [ln for spec, ln in windows if "__bucket" in spec]
    assert fact, "expected bucket-grain fact windows"


def test_spine_oracles_agree_cross_engine_on_null_timestamps(spark, tmp_path):
    """The r9 second-review fix made every spine oracle declare ORDER BY
    ts NULLS FIRST (DuckDB defaults to NULLS LAST; Spark windows to NULLS
    FIRST). No fixture carries null timestamps, so this builds one (every
    7th ts nulled — includes within-null ties per user) and runs all five
    spine specs against their DuckDB oracles on it: the exact driver-gate
    compare, on the data the fix exists for."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark import workload

    from .conftest import SF_ORACLE, assert_oracle_match

    src = pq.read_table(f"{SF_ORACLE}/events.parquet")
    ts = src.column("ts").to_pylist()
    ts = [None if i % 7 == 0 else t for i, t in enumerate(ts)]
    i = src.schema.get_field_index("ts")
    tbl = src.set_column(i, src.schema.field("ts"), pa.array(ts, type=src.schema.field("ts").type))
    pq.write_table(tbl, tmp_path / "events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    specs = {s.name: s for s in workload.SPECS}
    for n in (
        "spine_user_sessions",
        "spine_running_value_sum",
        "spine_event_rank",
        "spine_global_running_value_sum",
        "spine_global_event_rank",
    ):
        assert_oracle_match(
            specs[n].fn(spark, str(tmp_path)), con, specs[n].oracle
        )


# ---- generalized keyed cumsum (VERDICT r10 task 2) --------------------


def _cumsum_rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


def test_keyed_cumsum_two_pass_matches_naive_doc_id_order(spark):
    """The packing bucketizer (floor(doc_id/N)) over the real documents
    table: two-pass == naive for both inclusive and exclusive frames."""
    from nbi_oedi_etl_spark.operators.skew import (
        keyed_cumsum_two_pass,
        naive_keyed_cumsum,
    )
    from nbi_oedi_etl_spark.workload_ext34 import _doc_id_bucket

    d = (
        read_table(spark, SF_SMALL, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", F.length("text").alias("v"))
    )
    for inc in (True, False):
        a = naive_keyed_cumsum(
            d, "source", ["doc_id"], "v", out_col="c", include_current=inc
        )
        # bucket width 7 forces many buckets even at sf0.001
        b = keyed_cumsum_two_pass(
            d, "source", ["doc_id"], F.floor(F.col("doc_id") / 7), "v",
            out_col="c", include_current=inc,
        )
        assert _cumsum_rows(a) == _cumsum_rows(b)
    # and with the shipped production bucketizer
    b = keyed_cumsum_two_pass(
        d, "source", ["doc_id"], _doc_id_bucket(), "v",
        out_col="c", include_current=False,
    )
    a = naive_keyed_cumsum(
        d, "source", ["doc_id"], "v", out_col="c", include_current=False
    )
    assert _cumsum_rows(a) == _cumsum_rows(b)


def test_keyed_cumsum_two_pass_matches_naive_hash_order(spark):
    """The budget-cap walk order (md5 hex, doc_id) with the hash-prefix
    bucketizer: hex-prefix buckets must be monotone in the (h, doc_id)
    lexicographic order — the caller contract, pinned on real data."""
    from nbi_oedi_etl_spark.operators.skew import (
        keyed_cumsum_two_pass,
        naive_keyed_cumsum,
    )
    from nbi_oedi_etl_spark.workload_ext34 import _hash_prefix_bucket

    d = (
        read_table(spark, SF_SMALL, "documents")
        .select(
            "doc_id",
            "source",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
            F.lit(3).alias("v"),
        )
    )
    # chars=1 → 16 buckets: plenty of cross-bucket traffic at sf0.001
    for chars in (1, 2):
        a = naive_keyed_cumsum(
            d, "source", ["h", "doc_id"], "v", out_col="c", include_current=False
        )
        b = keyed_cumsum_two_pass(
            d, "source", ["h", "doc_id"], _hash_prefix_bucket("h", chars), "v",
            out_col="c", include_current=False,
        )
        assert _cumsum_rows(a) == _cumsum_rows(b)


def test_keyed_cumsum_matches_naive_on_hot_source_corpus(spark):
    """One source holding 90% of rows — the regime the dispatch exists
    for. Values must be identical naive vs two-pass."""
    from nbi_oedi_etl_spark.operators.skew import (
        keyed_cumsum_two_pass,
        naive_keyed_cumsum,
    )

    n = 4000
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 5).cast("string"))
        ).alias("source"),
        (F.col("id") % 37 + 1).alias("v"),
    )
    a = naive_keyed_cumsum(
        d, "source", ["doc_id"], "v", out_col="c", include_current=False
    )
    b = keyed_cumsum_two_pass(
        d, "source", ["doc_id"], F.floor(F.col("doc_id") / 100), "v",
        out_col="c", include_current=False,
    )
    assert _cumsum_rows(a) == _cumsum_rows(b)


def test_keyed_cumsum_front_door_dispatch_both_ways(spark):
    """keyed_cumsum dispatches naive below the crossover, two-pass
    at/above it, with identical values either way (sessionize pattern)."""
    from nbi_oedi_etl_spark.operators import skew

    d = (
        read_table(spark, SF_SMALL, "documents")
        .select("doc_id", "source", F.length("text").alias("v"))
    )
    bucket = F.floor(F.col("doc_id") / 7)

    def shape(df):
        return "__bucket" in df._jdf.queryExecution().executedPlan().toString()

    naive = skew.keyed_cumsum(
        d, "source", ["doc_id"], bucket, "v", out_col="c", include_current=False
    )
    assert not shape(naive)  # sf0.001 hot source is far below 1M rows
    spine = skew.keyed_cumsum(
        d, "source", ["doc_id"], bucket, "v", out_col="c",
        include_current=False, max_rows_per_key=10**9,
    )
    assert shape(spine)
    assert _cumsum_rows(naive) == _cumsum_rows(spine)
    # max_rows_per_key skips the probe and steers the dispatch
    assert not shape(
        skew.keyed_cumsum(d, "source", ["doc_id"], bucket, "v", max_rows_per_key=10)
    )
    assert shape(
        skew.keyed_cumsum(d, "source", ["doc_id"], bucket, "v", max_rows_per_key=10**9)
    )


def test_keyed_cumsum_plan_never_partitions_facts_by_key_alone(spark):
    """Structural pin of the scale property for the generalized form:
    fact windows partition on (key, __bucket); the only key-alone window
    is the spine's prefix over bucket-grain totals; AQE brings the spine
    back as a broadcast join at test scale."""
    from nbi_oedi_etl_spark.operators.skew import keyed_cumsum_two_pass

    d = (
        read_table(spark, SF_SMALL, "documents")
        .select("doc_id", "source", F.length("text").alias("v"))
    )
    df = keyed_cumsum_two_pass(
        d, "source", ["doc_id"], F.floor(F.col("doc_id") / 7), "v",
        out_col="c", include_current=False,
    )
    df.collect()  # executes THIS QueryExecution, letting AQE finalize it
    plan = df._jdf.queryExecution().executedPlan().toString()
    windows = _window_partition_specs(plan)
    assert windows, plan
    fact_windows = [ln for spec, ln in windows if "__bucket" in spec]
    spine_windows = [ln for spec, ln in windows if "__bucket" not in spec]
    assert fact_windows, plan
    assert spine_windows, plan
    for ln in spine_windows:
        assert "__total" in ln, ln
    assert "BroadcastHashJoin" in plan, plan


def test_keyed_cumsum_rejects_colliding_columns(spark):
    import pytest as _pytest

    from nbi_oedi_etl_spark.operators.skew import keyed_cumsum_two_pass

    d = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit("s").alias("source"),
        F.lit(1).alias("v"),
        F.lit(0).alias("__prefix"),
    )
    with _pytest.raises(ValueError, match="__prefix"):
        keyed_cumsum_two_pass(
            d, "source", ["doc_id"], F.floor(F.col("doc_id") / 7), "v"
        )


def test_unkeyed_cumsum_dispatch_and_equivalence(spark):
    """keyed_cumsum with key_col=None (arbitrary-order global form):
    direct-window and two-pass-spine branches produce identical values;
    dispatch honors max_rows_per_key; value=1 yields a global
    row_number."""
    from nbi_oedi_etl_spark.operators import skew

    d = (
        read_table(spark, SF_SMALL, "documents")
        .select("doc_id", "n_chars")
        .withColumn("one", F.lit(1))
    )
    bucket = F.floor(F.col("n_chars") / 16)

    def shape(df):
        return "__bucket" in df._jdf.queryExecution().executedPlan().toString()

    direct = skew.keyed_cumsum(
        d, None, ["n_chars", "doc_id"], bucket, "one", out_col="g", max_rows_per_key=50
    )
    assert not shape(direct)
    spine = skew.keyed_cumsum(
        d, None, ["n_chars", "doc_id"], bucket, "one", out_col="g", max_rows_per_key=10**9
    )
    assert shape(spine)
    key = lambda df: sorted((r["doc_id"], r["g"]) for r in df.collect())
    a, b = key(direct), key(spine)
    assert a == b
    # row_number semantics: g is a permutation of 1..N
    assert sorted(g for _, g in a) == list(range(1, len(a) + 1))


def test_token_budget_shards_keeps_null_doc_id(spark):
    """A NULL doc_id is a document too: token_budget_shards keeps it and
    every row equals the single-window form
    sum(n_tokens) OVER (ORDER BY doc_id NULLS FIRST ROWS UNBOUNDED
    PRECEDING) — a null-unsafe offsets join drops the row while its
    tokens still shift the others' running totals."""
    from pyspark.sql import Window

    from nbi_oedi_etl_spark.operators.sharding import token_budget_shards
    from nbi_oedi_etl_spark.operators.text import token_count

    docs = spark.createDataFrame(
        [(1, "a b c"), (None, "d e f g"), (5000, "h i")], "doc_id long, text string"
    )
    got = sorted(
        map(tuple, token_budget_shards(docs, budget_tokens=5).collect()),
        key=repr,
    )
    w = Window.orderBy(F.col("doc_id").asc_nulls_first()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    want = sorted(
        (
            (
                r["doc_id"],
                r["n_tokens"],
                r["cum_tokens"],
                (r["cum_tokens"] - r["n_tokens"]) // 5,
            )
            for r in naive.collect()
        ),
        key=repr,
    )
    assert len(got) == 3
    assert got == want


def test_quantile_normalize_spine_branch_matches_naive(spark):
    """The r11 rewiring of source_quantile_normalize: forcing BOTH rank
    tables onto the two-pass spine (max_rows_per_key=10**9 via
    monkeypatched dispatch) must reproduce the registered spec's output
    exactly."""
    from unittest import mock

    from nbi_oedi_etl_spark.operators import skew
    from nbi_oedi_etl_spark.workload_ext33 import source_quantile_normalize

    sf = SF_SMALL
    want = sorted(map(tuple, source_quantile_normalize(spark, sf).collect()))

    real_keyed = skew.keyed_cumsum

    def keyed_spine(*a, **kw):
        kw["max_rows_per_key"] = 10**9
        return real_keyed(*a, **kw)

    with mock.patch.object(skew, "keyed_cumsum", keyed_spine):
        got = sorted(map(tuple, source_quantile_normalize(spark, sf).collect()))
    assert got == want and len(got) > 0

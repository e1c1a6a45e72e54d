"""Property tests for the round-4 operators: independently-computed
expectations on randomized/crafted inputs (the §5 test-strategy posture —
the oracle gate proves cross-engine equality; these prove the SEMANTICS).
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nbi_oedi_etl_spark import workload

_EPOCH = dt.datetime(2024, 1, 1)
_GAP_S = 1800


# ------------------------------------------------ session_window semantics

_offsets = st.lists(
    st.integers(min_value=0, max_value=6 * 3600), min_size=1, max_size=40
)


def _ref_sessions(offsets: list[int]) -> list[tuple[int, int, int]]:
    """Python reference gap sessionizer: (start_off, last_off, n)."""
    out = []
    for off in sorted(offsets):
        if out and off < out[-1][1] + _GAP_S:
            s, _, n = out[-1]
            out[-1] = (s, off, n + 1)
        else:
            out.append((off, off, 1))
    return out


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(offsets=_offsets)
def test_session_window_matches_python_reference(spark, offsets):
    rows = [
        (i, _EPOCH + dt.timedelta(seconds=off), 1, "click", 1.0, "{}")
        for i, off in enumerate(offsets)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = sorted(
        (r["w"]["start"], r["n"])
        for r in df.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = sorted(
        (_EPOCH + dt.timedelta(seconds=s), n) for s, _, n in _ref_sessions(offsets)
    )
    assert got == want
    assert sum(n for _, n in got) == len(offsets)


# --------------------------------------- incremental dedup vs Python ref

def _write_docs(texts: list[str]) -> str:
    d = tempfile.mkdtemp()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["s"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


_texts = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=6), min_size=3, max_size=30
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_texts)
def test_incremental_dedup_matches_python_reference(spark, texts):
    sf_dir = _write_docs(texts)
    got = {
        r["doc_id"]: r["status"]
        for r in workload.queries()["incremental_dedup_new_docs"](
            spark, sf_dir
        ).collect()
    }
    hist = {t for i, t in enumerate(texts) if i % 3 != 0}
    first_seen: dict[str, int] = {}
    want = {}
    for i, t in enumerate(texts):
        if i % 3 != 0:
            continue
        if t in hist:
            want[i] = "dup_of_history"
        elif t in first_seen:
            want[i] = "dup_in_batch"
        else:
            first_seen[t] = i
            want[i] = "new"
    assert got == want


# ------------------------------------------- bottom-k sketch mergeability

def test_bottom_k_sample_is_mergeable(spark):
    """bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — the
    property that lets shards/streams maintain the quantile sketch
    independently and merge at read time."""
    from nbi_oedi_etl_spark.sources import read_table

    o = read_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", F.md5(F.col("o_orderkey").cast("string")).alias("h")
    )
    k = 200

    def bottom_k(df):
        return df.orderBy("h", "o_orderkey").limit(k)

    direct = bottom_k(o)
    a = bottom_k(o.where(F.col("o_orderkey") % 2 == 0))
    b = bottom_k(o.where(F.col("o_orderkey") % 2 == 1))
    merged = bottom_k(a.unionByName(b))
    assert sorted(r["o_orderkey"] for r in direct.collect()) == sorted(
        r["o_orderkey"] for r in merged.collect()
    )


# --------------------------------------------- grouped HLL error bound

def test_grouped_hll_within_error_bound(spark):
    """m=64 registers → relative standard error 1.04/sqrt(64) ≈ 13%; every
    per-source estimate must land within 3.5σ (±45%) of its true
    distinct count — a broken register partition or rho width shows up as
    a gross violation, sampling noise does not."""
    rows = workload.queries()["hll_tokens_by_source"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 20
    for r in rows:
        rel = abs(r["hll_estimate"] - r["true_distinct"]) / r["true_distinct"]
        assert rel < 0.45, (
            f"{r['source']}: est={r['hll_estimate']} true={r['true_distinct']}"
        )


# ------------------------------------------ at-rest banded layout (r10)

# small token alphabet => frequent shingle collisions => non-trivial
# candidate sets under the PRODUCTION xxhash64 banding family
_doc_texts = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=3,
        max_size=8,
    ).map(" ".join),
    min_size=4,
    max_size=14,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_doc_texts, split=st.integers(min_value=2, max_value=5))
def test_banded_layout_probe_matches_in_memory_on_random_corpora(
    spark, texts, split
):
    """Write→probe through the at-rest layout must find exactly the
    new-vs-corpus candidate pairs the in-memory self-join finds on the
    union, for ANY corpus/batch split — the parity the plan-pin test
    checks on the fixture corpus, generalized over random inputs and
    split ratios (production hash family, no portable detour)."""
    from nbi_oedi_etl_spark.operators.banded_layout import (
        probe_banded_layout,
        write_banded_layout,
    )
    from nbi_oedi_etl_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    corpus = docs.where(F.col("doc_id") % split != 0)
    batch = docs.where(F.col("doc_id") % split == 0)
    with tempfile.TemporaryDirectory() as tmp:
        dest = os.path.join(tmp, "layout")
        write_banded_layout(corpus, dest, n_buckets=8)
        got = {
            (r["doc_id_new"], r["doc_id_corpus"])
            for r in probe_banded_layout(spark, dest, batch).collect()
        }
    batch_ids = {r["doc_id"] for r in batch.collect()}
    want = set()
    for r in minhash_lsh_candidates(docs).collect():
        a, b = r["doc_id_a"], r["doc_id_b"]
        if (a in batch_ids) != (b in batch_ids):
            new, old = (a, b) if a in batch_ids else (b, a)
            want.add((new, old))
    assert got == want


def test_banded_layout_append_mode_rejects_parameter_mismatch(spark):
    """ADVICE r10: write_banded_layout(mode='append') onto an existing
    layout must fail loudly on banding-parameter mismatch instead of
    silently mixing two families under a sidecar describing only the
    newer; same-parameter appends still work."""
    import pytest as _pytest

    from nbi_oedi_etl_spark.operators.banded_layout import (
        _read_meta,
        write_banded_layout,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(8)],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        dest = os.path.join(tmp, "layout")
        write_banded_layout(docs, dest, n_buckets=8)
        before = _read_meta(spark, dest)
        with _pytest.raises(ValueError, match="mismatched banding parameters"):
            write_banded_layout(docs, dest, n_buckets=16, mode="append")
        with _pytest.raises(ValueError, match="mismatched banding parameters"):
            write_banded_layout(docs, dest, bands=4, n_buckets=8, mode="append")
        assert _read_meta(spark, dest) == before  # sidecar untouched
        # same parameters: append allowed, sidecar unchanged
        write_banded_layout(docs, dest, n_buckets=8, mode="append")
        assert _read_meta(spark, dest) == before
        # append into a FRESH dest behaves like a first write
        dest2 = os.path.join(tmp, "layout2")
        write_banded_layout(docs, dest2, n_buckets=8, mode="append")
        assert _read_meta(spark, dest2) == before


def test_probe_ivf_layout_dispatches_oversized_batch_to_distributed(
    spark, monkeypatch
):
    """r11 (supersedes the ADVICE-r10 hard error): a probe batch past
    the driver-collect threshold dispatches to the distributed branch
    (executor-side probe math, shuffle join, no driver collect) with
    IDENTICAL results to the driver-side path."""
    import numpy as np

    from nbi_oedi_etl_spark.operators import ivf_layout as il

    rng = np.random.default_rng(7)
    docs = spark.createDataFrame(
        [(i, rng.standard_normal(4).tolist()) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    with tempfile.TemporaryDirectory() as tmp:
        dest = os.path.join(tmp, "ivf")
        cent = il.write_ivf_layout(docs, dest, n_cells=4)
        want = sorted(map(tuple, il.probe_ivf_layout(
            spark, dest, docs, cent, k=3, query_id_col="vec_id"
        ).collect()))
        monkeypatch.setattr(il, "_MAX_PROBE_BATCH_ROWS", 10)
        big = il.probe_ivf_layout(spark, dest, docs, cent, k=3, query_id_col="vec_id")
        got = sorted(map(tuple, big.collect()))
        assert got == want and len(got) > 0
        # the distributed branch must not carry the static IN-list prune
        # (it reads the whole layout) nor a broadcast of the query side
        # forced by us — plan sanity only, values above are the contract
        small = docs.limit(5)
        out = il.probe_ivf_layout(spark, dest, small, cent, k=3, query_id_col="vec_id")
        assert out.count() > 0


def test_doc_duplicate_spans_finds_planted_spans_exactly(spark, tmp_path):
    """Crafted corpus: two docs share one 20-token paragraph at known
    offsets; a third doc is unique. The spec must report EXACTLY the
    planted span in each sharing doc (maximal, correct offsets) and
    nothing for the unique doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_ext35 import doc_duplicate_spans

    shared = " ".join(f"dup{i}" for i in range(20))
    docs = [
        # doc 0: 5 unique tokens, the shared 20, 5 unique -> span [5, 25)
        (0, " ".join(f"a{i}" for i in range(5)) + " " + shared + " "
         + " ".join(f"b{i}" for i in range(5))),
        # doc 1: shared 20 at the very start, 10 unique -> span [0, 20)
        (1, shared + " " + " ".join(f"c{i}" for i in range(10))),
        # doc 2: fully unique, longer than the shingle width
        (2, " ".join(f"z{i}" for i in range(30))),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                  "text": pa.array([t for _, t in docs])}),
        str(tmp_path / "documents.parquet"),
    )
    rows = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"], r["span_tokens"])
        for r in doc_duplicate_spans(spark, str(tmp_path)).collect()
    )
    assert rows == [(0, 5, 25, 20), (1, 0, 20, 20)]


def test_doc_duplicate_spans_merges_overlapping_duplicates(spark, tmp_path):
    """Two overlapping duplicated regions in one doc must merge into ONE
    maximal span (the run-length grouping property), and a duplicated
    region shorter than MIN_SPAN_TOKENS must be suppressed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_ext35 import (
        MIN_SPAN_TOKENS,
        SPAN_SHINGLE_TOKENS,
        doc_duplicate_spans,
    )

    assert SPAN_SHINGLE_TOKENS < MIN_SPAN_TOKENS
    # shared block exactly MIN_SPAN long; short block exactly shingle-width
    long_block = " ".join(f"L{i}" for i in range(MIN_SPAN_TOKENS))
    short_block = " ".join(f"S{i}" for i in range(SPAN_SHINGLE_TOKENS))
    docs = [
        (0, long_block + " mid0 mid1 mid2 " + short_block),
        (1, long_block + " other0 other1 " + short_block),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                  "text": pa.array([t for _, t in docs])}),
        str(tmp_path / "documents.parquet"),
    )
    rows = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"])
        for r in doc_duplicate_spans(spark, str(tmp_path)).collect()
    )
    # only the long block survives the MIN_SPAN filter, at [0, MIN_SPAN)
    assert rows == [(0, 0, MIN_SPAN_TOKENS), (1, 0, MIN_SPAN_TOKENS)]


def test_doc_duplicate_spans_within_doc_repeat_excluded(spark, tmp_path):
    """The duplicated-shingle gate is CROSS-doc: a shingle repeated many
    times WITHIN one doc (distinct doc count 1) must not produce a span.
    Pins the r14 min(doc_id) != max(doc_id) rewrite of the
    countDistinct >= 2 gate on its exact equivalence edge — a heavily
    self-repeating doc — for both the detection and the cut spec."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_ext35 import (
        doc_cut_duplicate_spans,
        doc_duplicate_spans,
    )

    # doc 0: an 8-token phrase repeated 5x -> every shingle occurs many
    # times, all inside the one doc; docs 1/2 share a 24-token block.
    rep = " ".join(f"r{i % 8}" for i in range(40))
    shared = " ".join(f"s{i}" for i in range(24))
    docs = [
        (0, rep),
        (1, " ".join(f"u{i}" for i in range(10)) + " " + shared),
        (2, shared + " " + " ".join(f"v{i}" for i in range(10))),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                  "text": pa.array([t for _, t in docs])}),
        str(tmp_path / "documents.parquet"),
    )
    spans = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"])
        for r in doc_duplicate_spans(spark, str(tmp_path)).collect()
    )
    assert spans == [(1, 10, 34), (2, 0, 24)]
    cuts = {
        r["doc_id"]: r["cut_tokens"]
        for r in doc_cut_duplicate_spans(spark, str(tmp_path)).collect()
    }
    # keep-first: doc 1 owns the shared block, doc 2 loses exactly it;
    # the self-repeating doc is untouched
    assert cuts == {0: 0, 1: 0, 2: 24}


def test_doc_cut_duplicate_spans_keep_first_semantics(spark, tmp_path):
    """Keep-first rule on planted docs: the min-doc_id owner keeps its
    text intact; later docs lose exactly the shared span; uniques pass
    through; token accounting is exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_ext35 import doc_cut_duplicate_spans

    shared = " ".join(f"dup{i}" for i in range(20))
    pre1 = " ".join(f"a{i}" for i in range(5))
    post1 = " ".join(f"b{i}" for i in range(5))
    docs = [
        (0, shared),                              # owner: kept intact
        (1, pre1 + " " + shared + " " + post1),   # loses the 20 shared
        (2, " ".join(f"z{i}" for i in range(30))),  # unique: untouched
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                  "text": pa.array([t for _, t in docs])}),
        str(tmp_path / "documents.parquet"),
    )
    got = {r["doc_id"]: r for r in doc_cut_duplicate_spans(spark, str(tmp_path)).collect()}
    assert got[0]["cut_tokens"] == 0 and got[0]["kept_text"] == shared
    assert got[1]["cut_tokens"] == 20
    assert got[1]["kept_text"] == pre1 + " " + post1
    assert got[2]["cut_tokens"] == 0
    assert all(got[d]["n_tokens"] == len(t.split()) for d, t in docs)


def test_ivf_layout_append_and_sidecar_roundtrip(spark, tmp_path):
    """r11 IVF CDC legs: (1) a layout built incrementally (write part,
    append rest) under a FIXED codebook probes identically to a layout
    written once from the full corpus under the same codebook; (2) the
    sidecar codebook round-trips so probe/append need no caller-carried
    centroids; (3) per-cell compaction after appends preserves probe
    results while cutting file counts."""
    import os

    import numpy as np

    from nbi_oedi_etl_spark.operators import ivf_layout as il

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(6).tolist()) for i in range(120)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    part = corpus.where(F.col("vec_id") % 4 != 0)
    rest0 = corpus.where(F.col("vec_id") % 8 == 0)
    rest4 = corpus.where(F.col("vec_id") % 8 == 4)
    queries = corpus.limit(6)

    full_dest = str(tmp_path / "full")
    inc_dest = str(tmp_path / "inc")
    cent = il.ivf_codebook(corpus, 8, "vec_id", "embedding", 42)
    il.write_ivf_layout(corpus, full_dest, cent_unit=cent)
    il.write_ivf_layout(part, inc_dest, cent_unit=cent)
    il.append_to_ivf_layout(spark, inc_dest, rest0)
    il.append_to_ivf_layout(spark, inc_dest, rest4)

    # sidecar roundtrip: stored codebook == the one we passed
    assert np.allclose(il.read_ivf_codebook(spark, inc_dest), cent)

    def probe(dest):
        # cent_unit=None -> sidecar path
        return sorted(
            map(tuple, il.probe_ivf_layout(
                spark, dest, queries, k=5, query_id_col="vec_id"
            ).collect())
        )

    full_res = probe(full_dest)
    inc_res = probe(inc_dest)
    assert full_res == inc_res and len(full_res) > 0

    # appended vectors are actually visible: a fresh query embedding
    # identical to an APPENDED vector must return it at rank 1
    planted = rest4.limit(1).collect()[0]
    q1 = spark.createDataFrame(
        [(999999, planted["embedding"])], "vec_id long, embedding array<double>"
    )
    top = (
        il.probe_ivf_layout(spark, inc_dest, q1, k=1, query_id_col="vec_id")
        .collect()
    )
    assert top and top[0]["vec_id"] == planted["vec_id"]

    # compaction: fragmented cells shrink, probe identical
    def cell_files(dest):
        return {
            d: len([f for f in os.listdir(os.path.join(dest, d)) if f.endswith(".parquet")])
            for d in os.listdir(dest) if d.startswith("cell=")
        }
    before = cell_files(inc_dest)
    assert max(before.values()) >= 2, "appends should have fragmented cells"
    done = il.compact_ivf_layout(spark, inc_dest, max_files_per_cell=1)
    after = cell_files(inc_dest)
    assert done and max(after.values()) == 1
    assert probe(inc_dest) == inc_res


def test_temperature_mixture_and_boundary_stats_semantics(spark):
    """Mixture: weights sum to 1, temperature lifts small sources'
    SHARE vs their raw share and damps the largest, alloc <= available.
    Boundary stats: token totals reconcile with the packed stream and
    every budget-full sequence holds exactly PACK_TOKENS tokens."""
    from nbi_oedi_etl_spark.workload_ext34 import (
        PACK_TOKENS,
        pack_boundary_stats,
        source_temperature_mixture,
    )

    sf = "/root/testdata/sf0.01"
    mix = source_temperature_mixture(spark, sf).collect()
    assert abs(sum(r["weight"] for r in mix) - 1.0) < 1e-4
    tot = sum(r["n_tokens"] for r in mix)
    small = min(mix, key=lambda r: r["n_tokens"])
    big = max(mix, key=lambda r: r["n_tokens"])
    assert small["weight"] > small["n_tokens"] / tot  # up-sampled
    assert big["weight"] < big["n_tokens"] / tot      # damped
    assert all(r["alloc_tokens"] <= r["n_tokens"] for r in mix)

    stats = pack_boundary_stats(spark, sf).collect()
    assert all(r["n_boundaries"] == r["n_docs"] - 1 for r in stats)
    # per source: every sequence except possibly the LAST is budget-full
    by_src: dict = {}
    for r in stats:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["seq_id"])
        assert [r["seq_id"] for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r["seq_tokens"] == PACK_TOKENS, (src, r)
        assert 0 < rows[-1]["seq_tokens"] <= PACK_TOKENS
    # stream reconciliation: sum of sequence tokens == corpus tokens
    assert sum(r["seq_tokens"] for r in stats) == tot


def test_benchmark_contamination_spans_planted(spark, tmp_path):
    """Planted eval-set contamination: a training doc embedding a
    20-token benchmark passage reports exactly that span; clean training
    docs and the benchmark docs themselves report nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_ext35 import (
        BENCHMARK_SOURCE,
        benchmark_contamination_spans,
    )

    passage = " ".join(f"bench{i}" for i in range(20))
    rows = [
        # the benchmark doc (src0)
        (0, BENCHMARK_SOURCE, passage + " " + " ".join(f"q{i}" for i in range(10))),
        # contaminated training doc: passage at offset 4
        (1, "src1", " ".join(f"a{i}" for i in range(4)) + " " + passage
         + " " + " ".join(f"b{i}" for i in range(6))),
        # clean training doc
        (2, "src2", " ".join(f"z{i}" for i in range(30))),
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "source": pa.array([r[1] for r in rows]),
            "text": pa.array([r[2] for r in rows]),
        }),
        str(tmp_path / "documents.parquet"),
    )
    got = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"], r["span_tokens"])
        for r in benchmark_contamination_spans(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 4, 24, 20)]


def test_doc_cut_duplicate_spans_keeps_short_docs(spark, tmp_path):
    """r11 self-review fix: docs shorter than the shingle width are
    corpus members and must pass through intact — only shingle
    generation is width-gated, not output membership."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_ext35 import doc_cut_duplicate_spans

    docs = [(0, "tiny doc"), (1, "a b c"),
            (2, " ".join(f"w{i}" for i in range(30)))]
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                  "text": pa.array([t for _, t in docs])}),
        str(tmp_path / "documents.parquet"),
    )
    got = {r["doc_id"]: r for r in doc_cut_duplicate_spans(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0]["kept_text"] == "tiny doc" and got[0]["cut_tokens"] == 0
    assert got[1]["n_tokens"] == 3 and got[1]["cut_tokens"] == 0


# ------------------------------------------------ round-11 wave 2: PQ,
# epoch shuffle, CCNet buckets (workload_ext36)

_SF_SMALL = "/root/testdata/sf0.001"


def test_pq_codes_shape_and_lloyd_nonincrease(spark):
    """Every vector gets exactly PQ_M codes, codes live in [0, PQ_K),
    and the Lloyd update cannot increase per-subspace inertia:
    J(assign under cb1) <= J(assign under cb0) — the k-means monotone
    descent property, per subspace."""
    from nbi_oedi_etl_spark.workload_ext36 import (
        PQ_K,
        PQ_M,
        _pq_assign,
        _pq_subvectors,
        _pq_train,
        embedding_pq_codes,
    )

    rows = embedding_pq_codes(spark, _SF_SMALL).collect()
    n_vecs = len({r["vec_id"] for r in rows})
    assert len(rows) == PQ_M * n_vecs and n_vecs > 0
    assert all(0 <= r["code"] < PQ_K for r in rows)
    assert all(r["sub_distance"] >= 0 for r in rows)

    subs, cb1 = _pq_train(spark, _SF_SMALL)
    cb0 = subs.where(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("code"), F.col("semb").alias("c_emb")
    )
    j0 = sum(r["dist"] ** 2 for r in _pq_assign(subs, cb0).collect())
    j1 = sum(r["dist"] ** 2 for r in _pq_assign(subs, cb1).collect())
    assert j1 <= j0 + 1e-9, (j0, j1)


def test_pq_adc_matches_python_reference(spark):
    """ADC distances recomputed in Python from the collected codebook +
    codes + query subvectors, with the IDENTICAL fold order, must match
    the Spark output bit-for-bit (after the shared round-6); ranks are
    contiguous from 1, self never appears."""
    import math

    from nbi_oedi_etl_spark.workload_ext36 import (
        PQ_M,
        PQ_N_QUERIES,
        PQ_TOPK,
        _pq_assign,
        _pq_train,
        embedding_pq_adc_topk,
    )

    got = embedding_pq_adc_topk(spark, _SF_SMALL).collect()
    by_q: dict[int, list] = {}
    for r in got:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(PQ_N_QUERIES))
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, PQ_TOPK + 1))

    subs, cb1 = _pq_train(spark, _SF_SMALL)
    cb = {(r["sub"], r["code"]): list(r["c_emb"]) for r in cb1.collect()}
    codes = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in _pq_assign(subs, cb1).collect()
    }
    qsubs = {
        (r["vec_id"], r["sub"]): list(r["semb"])
        for r in subs.where(F.col("vec_id") < PQ_N_QUERIES).collect()
    }

    def _l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return math.sqrt(acc)

    for r in got:
        total = 0.0
        parts = []
        for s in range(PQ_M):
            d = _l2(qsubs[(r["query_id"], s)], cb[(s, codes[(r["neighbor_id"], s)])])
            parts.append(d * d)
        total = parts[0]
        for p in parts[1:]:
            total = total + p
        assert round(math.sqrt(total), 6) == r["adc_distance"], r


def test_epoch_shuffle_is_permutation_and_deterministic(spark):
    """Each epoch's positions are exactly 1..N (a permutation), epochs
    order the corpus differently, re-runs are byte-identical, and the
    round-robin shard assignment is balanced to within one row."""
    from collections import Counter

    from nbi_oedi_etl_spark.workload_ext36 import (
        SHUFFLE_EPOCHS,
        SHUFFLE_SHARDS,
        corpus_epoch_shuffle,
    )

    rows = corpus_epoch_shuffle(spark, _SF_SMALL).collect()
    n = len({r["doc_id"] for r in rows})
    assert len(rows) == SHUFFLE_EPOCHS * n and n > 1
    orders = {}
    for e in range(SHUFFLE_EPOCHS):
        ep = [r for r in rows if r["epoch"] == e]
        assert sorted(r["shuffle_pos"] for r in ep) == list(range(1, n + 1))
        orders[e] = tuple(
            r["doc_id"] for r in sorted(ep, key=lambda r: r["shuffle_pos"])
        )
        shard_sizes = Counter(r["shard"] for r in ep)
        assert set(shard_sizes) <= set(range(SHUFFLE_SHARDS))
        assert max(shard_sizes.values()) - min(shard_sizes.values()) <= 1
    assert orders[0] != orders[1]  # different epochs, different orders

    again = corpus_epoch_shuffle(spark, _SF_SMALL).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ccnet_buckets_tercile_and_score_semantics(spark, tmp_path):
    """Planted corpus: within a source, tercile sizes differ by at most
    one, bucket boundaries respect score order (max head <= min middle
    <= ... with ties never straddling engines — rank-based), a
    repetitive doc scores MORE predictable (lower) than an all-unique
    doc, and only docs with >= 1 bigram appear."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_ext36 import ccnet_perplexity_buckets

    rep = "the cat sat on the mat " * 6          # repetitive -> low score
    docs = [(0, rep), (1, " ".join(f"u{i}" for i in range(36)))]
    docs += [(i, f"shared words here filler{i} tail{i}") for i in range(2, 9)]
    docs += [(99, "one")]                        # single token: no bigram
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
            "text": pa.array([t for _, t in docs]),
            "source": pa.array(["s"] * len(docs)),
        }),
        str(tmp_path / "documents.parquet"),
    )
    rows = ccnet_perplexity_buckets(spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert 99 not in by_id and len(rows) == len(docs) - 1
    assert by_id[0]["ppl_score"] < by_id[1]["ppl_score"]
    sizes = {"head": 0, "middle": 0, "tail": 0}
    for r in rows:
        sizes[r["bucket"]] += 1
    assert max(sizes.values()) - min(sizes.values()) <= 1, sizes
    hi_head = max(r["ppl_score"] for r in rows if r["bucket"] == "head")
    lo_mid = min(r["ppl_score"] for r in rows if r["bucket"] == "middle")
    hi_mid = max(r["ppl_score"] for r in rows if r["bucket"] == "middle")
    lo_tail = min(r["ppl_score"] for r in rows if r["bucket"] == "tail")
    assert hi_head <= lo_mid <= hi_mid <= lo_tail


def test_ivf_pq_candidates_come_from_own_cell(spark):
    """IVF-PQ structural properties: every returned candidate shares the
    query's coarse cell (nprobe=1 own-cell probing, checked against an
    independently recomputed assignment), self never appears, and each
    query returns exactly min(TOPK, |cell|-1) contiguous ranks."""
    from collections import Counter

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators import similarity
    from nbi_oedi_etl_spark.sources import read_table
    from nbi_oedi_etl_spark.workload_ext36 import (
        IVFPQ_COARSE_K,
        IVFPQ_N_QUERIES,
        IVFPQ_TOPK,
        ivf_pq_portable,
    )

    got = ivf_pq_portable(spark, _SF_SMALL).collect()
    emb = read_table(spark, _SF_SMALL, "embeddings")
    cents = emb.where(F.col("vec_id") < IVFPQ_COARSE_K).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    cell = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.kmeans_assignment_step(emb, cents).collect()
    }
    cell_sizes = Counter(cell.values())
    by_q: dict[int, list] = {}
    for r in got:
        assert r["cand_id"] != r["query_id"]
        assert cell[r["cand_id"]] == cell[r["query_id"]], r
        assert r["adc_distance"] >= 0
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    n_vecs = len(cell)
    for qid in range(min(IVFPQ_N_QUERIES, n_vecs)):
        expect = min(IVFPQ_TOPK, cell_sizes[cell[qid]] - 1)
        assert sorted(by_q.get(qid, [])) == list(range(1, expect + 1)), qid


# the independent numpy/pyarrow ADC parity reference lives beside the
# layout implementation (shared with tools/ivf_pq_probe.py so the
# evidence tool and this regression pin can never diverge)
from nbi_oedi_etl_spark.operators.ivf_layout import (  # noqa: E402
    ivf_pq_reconstruction_reference as _ivf_pq_reference,
)


def test_ivf_pq_layout_probe_matches_reconstruction_reference(spark, tmp_path):
    """The at-rest ADC probe equals an independent numpy reconstruction
    of the same layout (codes + both sidecars), and the probe plan
    composes BOTH prunings: PartitionFilters on the probed cells AND a
    ReadSchema without the embedding column (the PQ bytes win)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.ivf_layout import (
        probe_ivf_pq_layout,
        read_ivf_codebook,
        read_ivf_pq_meta,
        write_ivf_pq_layout,
    )

    rng = np.random.default_rng(7)
    n, dim = 40, 16
    vecs = rng.normal(size=(n, dim)).astype(np.float64)
    src = str(tmp_path / "src")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float64())),
        }),
        src + ".parquet",
    )
    corpus = spark.read.parquet(src + ".parquet")
    dest = str(tmp_path / "layout")
    write_ivf_pq_layout(corpus, dest, n_cells=4, pq_m=4, pq_k=4)

    q = corpus.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_df = probe_ivf_pq_layout(spark, dest, q, k=5, n_probe=2)
    got = {
        (r["query_id"], r["vec_id"], r["cos_sim"], r["rank"])
        for r in got_df.collect()
    }

    cent = read_ivf_codebook(spark, dest)
    meta = read_ivf_pq_meta(spark, dest)
    queries = [(i, vecs[i].tolist()) for i in range(6)]
    want = _ivf_pq_reference(dest, queries, cent, meta, n_probe=2, k=5)
    assert got == want

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    assert all("emb" not in ln.split("ReadSchema")[1] for ln in scan_lines), scan_lines
    assert "PartitionFilters: [" in plan
    pf = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "cell" in pf


def test_ivf_pq_layout_exact_tier_shares_the_layout(spark, tmp_path):
    """The SAME IVF-PQ layout serves the exact tier: probe_ivf_layout
    (raw-vector cosine) runs against it unchanged, and its results equal
    probing a plain IVF layout written with the same codebook — the
    code columns are additive, never disruptive."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.ivf_layout import (
        probe_ivf_layout,
        write_ivf_layout,
        write_ivf_pq_layout,
    )

    rng = np.random.default_rng(11)
    n, dim = 30, 16
    vecs = rng.normal(size=(n, dim)).astype(np.float64)
    src = str(tmp_path / "src.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float64())),
        }),
        src,
    )
    corpus = spark.read.parquet(src)
    d_pq = str(tmp_path / "pq")
    d_plain = str(tmp_path / "plain")
    cent = write_ivf_pq_layout(corpus, d_pq, n_cells=4, pq_m=4, pq_k=4)
    write_ivf_layout(corpus, d_plain, cent_unit=cent)
    q = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, probe_ivf_layout(spark, d_pq, q, k=4, n_probe=2).collect()))
    b = sorted(map(tuple, probe_ivf_layout(spark, d_plain, q, k=4, n_probe=2).collect()))
    assert a == b and len(a) > 0


def test_ivf_pq_probe_distributed_branch_parity(spark, tmp_path):
    """r12 (ADVICE r11): probe_ivf_pq_layout dispatches past the batch
    cap to an executor-side branch (ivf_probe_udf + shuffle join on
    cell) with the SAME ADC reconstruction expression; the two branches
    must agree row-for-row. driver_batch_rows pins each branch."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.ivf_layout import (
        probe_ivf_pq_layout,
        write_ivf_pq_layout,
    )

    rng = np.random.default_rng(23)
    n, dim = 40, 16
    vecs = rng.normal(size=(n, dim)).astype(np.float64)
    src = str(tmp_path / "src.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float64())),
        }),
        src,
    )
    corpus = spark.read.parquet(src)
    dest = str(tmp_path / "layout")
    write_ivf_pq_layout(corpus, dest, n_cells=4, pq_m=4, pq_k=4)
    q = corpus.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    drv = sorted(map(tuple, probe_ivf_pq_layout(
        spark, dest, q, k=5, n_probe=2, driver_batch_rows=100).collect()))
    dist = sorted(map(tuple, probe_ivf_pq_layout(
        spark, dest, q, k=5, n_probe=2, driver_batch_rows=2).collect()))
    assert drv == dist and len(drv) > 0


def test_append_guards_on_pq_layout(spark, tmp_path):
    """r12 (ADVICE r11): a plain append onto an IVF-PQ layout would
    write rows with null code_* — silently invisible to ADC probes — so
    append_to_ivf_layout must refuse; append_to_ivf_pq_layout encodes
    with the stored codebooks and the appended vectors must surface in
    ADC results AND match the independent numpy reconstruction of the
    post-append layout. A dim-mismatched batch is rejected."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.ivf_layout import (
        append_to_ivf_layout,
        append_to_ivf_pq_layout,
        ivf_pq_reconstruction_reference,
        probe_ivf_pq_layout,
        read_ivf_codebook,
        read_ivf_pq_meta,
        write_ivf_pq_layout,
    )

    rng = np.random.default_rng(29)
    n, dim = 36, 16
    vecs = rng.normal(size=(n + 6, dim)).astype(np.float64)

    def _tbl(ids):
        return pa.table({
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(
                [vecs[i].tolist() for i in ids], type=pa.list_(pa.float64())
            ),
        })

    base_src = str(tmp_path / "base.parquet")
    new_src = str(tmp_path / "new.parquet")
    pq.write_table(_tbl(list(range(n))), base_src)
    pq.write_table(_tbl(list(range(n, n + 6))), new_src)
    dest = str(tmp_path / "layout")
    write_ivf_pq_layout(spark.read.parquet(base_src), dest, n_cells=4, pq_m=4, pq_k=4)

    new_df = spark.read.parquet(new_src)
    with pytest.raises(ValueError, match="append_to_ivf_pq_layout"):
        append_to_ivf_layout(spark, dest, new_df)

    bad = new_df.select("vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    with pytest.raises(ValueError, match="dim"):
        append_to_ivf_pq_layout(spark, dest, bad)

    # ADVICE r12: a MIXED batch whose head row matches the layout dim
    # must also be rejected — the former limit(1) guard waved it through
    # and the mismatched tail rows encoded silently-garbage codes.
    mixed = new_df.select(
        "vec_id",
        F.when(F.col("vec_id") == n, F.col("embedding"))
        .otherwise(F.slice("embedding", 1, 8))
        .alias("embedding"),
    )
    with pytest.raises(ValueError, match="dim"):
        append_to_ivf_pq_layout(spark, dest, mixed)

    append_to_ivf_pq_layout(spark, dest, new_df)
    # probe FROM the appended vectors: with n_probe = n_cells every
    # stored row is a candidate, so each appended id must appear
    q = new_df.select(F.col("vec_id").alias("query_id"), "embedding")
    got_df = probe_ivf_pq_layout(spark, dest, q, k=5, n_probe=4)
    got = {
        (r["query_id"], r["vec_id"], r["cos_sim"], r["rank"])
        for r in got_df.collect()
    }
    cent = read_ivf_codebook(spark, dest)
    meta = read_ivf_pq_meta(spark, dest)
    queries = [(i, vecs[i].tolist()) for i in range(n, n + 6)]
    want = ivf_pq_reconstruction_reference(dest, queries, cent, meta, n_probe=4, k=5)
    assert got == want
    assert {r[1] for r in got} & set(range(n, n + 6)), (
        "appended vectors must be visible as ADC candidates"
    )


def test_streaming_ivf_cdc_ann_survives_empty_first_batch(spark, tmp_path):
    """r11 wave-2 self-review regression: `version` doubled as the
    layout-fitted flag, so a corpus whose FIRST mod-3 batch is empty
    (no vec_id ≡ 0 mod 3) took the probe branch against a never-written
    layout. The layout must fit on the first NONEMPTY batch, and the
    final result must be exactly batch-2 queries probing batch-1
    vectors."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_banded import streaming_ivf_cdc_ann

    rng = np.random.default_rng(3)
    ids = [i for i in range(30) if i % 3 != 0]  # batch 0 (i%3==0) empty
    vecs = rng.normal(size=(len(ids), 64)).astype(np.float64)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = streaming_ivf_cdc_ann(spark, str(tmp_path)).collect()
    b1 = {i for i in ids if i % 3 == 1}
    b2 = {i for i in ids if i % 3 == 2}
    assert rows, "batch-2 probes against batch-1 must produce results"
    assert {r["query_id"] for r in rows} <= b2
    assert {r["vec_id"] for r in rows} <= b1


def test_streaming_ivf_pq_cdc_ann_survives_empty_first_batch(spark, tmp_path):
    """r12: the PQ sibling inherits the split fitted-flag discipline —
    an empty FIRST batch must not probe a never-written layout, the
    IVF-PQ layout fits on the first NONEMPTY batch (PQ codebooks train
    on that batch even when it is smaller than pq_k), and the final
    drained union is exactly batch-2 queries ADC-probing batch-1
    vectors."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark.workload_banded import streaming_ivf_pq_cdc_ann

    rng = np.random.default_rng(5)
    ids = [i for i in range(30) if i % 3 != 0]  # batch 0 (i%3==0) empty
    vecs = rng.normal(size=(len(ids), 64)).astype(np.float64)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = streaming_ivf_pq_cdc_ann(spark, str(tmp_path)).collect()
    b1 = {i for i in ids if i % 3 == 1}
    b2 = {i for i in ids if i % 3 == 2}
    assert rows, "batch-2 ADC probes against batch-1 must produce results"
    assert {r["query_id"] for r in rows} <= b2
    assert {r["vec_id"] for r in rows} <= b1


def test_epoch_shuffle_matches_python_md5_reference(spark):
    """Black-box pin of the seeded-shuffle semantics: for every epoch,
    the engine's order must equal Python's hashlib ranking of
    md5('ep<epoch>:<doc_id>') with doc_id tie-break — the exact
    reproducibility contract a training run depends on (not just
    engine-internal branch equivalence)."""
    import hashlib

    from nbi_oedi_etl_spark.workload_ext36 import (
        SHUFFLE_EPOCHS,
        corpus_epoch_shuffle,
    )

    rows = corpus_epoch_shuffle(spark, _SF_SMALL).collect()
    ids = sorted({r["doc_id"] for r in rows})
    for e in range(SHUFFLE_EPOCHS):
        want = sorted(
            ids,
            key=lambda i: (hashlib.md5(f"ep{e}:{i}".encode()).hexdigest(), i),
        )
        got = [
            r["doc_id"]
            for r in sorted(
                (r for r in rows if r["epoch"] == e),
                key=lambda r: r["shuffle_pos"],
            )
        ]
        assert got == want, f"epoch {e} order diverges from hashlib"


def test_recall_curves_structural_invariants(spark):
    """The r13 curve trio's provable endpoints and monotonicity, pinned
    at sf0.001 (cheap; the driver hash-checks values at sf0.01):

    - ivf_recall_curve: recall is non-decreasing in n_probe and EXACTLY
      1.0 at n_probe = IVFPQ_COARSE_K (probing every cell IS brute
      force) — the coarse-miss endpoint of the decomposition;
    - ivf_pq_recall_curve: recall ≤ the exact curve at every n_probe
      (ADC can only lose vs exact on the same candidates), and
      avg_candidates matches the exact curve bit-for-bit (same probed
      cells — a divergence means the two curves' probe sides drifted);
    - lsh_banding_recall_curve: bands are NESTED in rows-per-band
      (agreement on an r-slot band implies agreement on its sub-bands),
      so candidates are non-increasing and recall non-increasing in r.
    """
    from nbi_oedi_etl_spark import workload

    sf = "/root/testdata/sf0.001"
    qs = workload.queries()

    exact = {
        r["n_probe"]: r for r in qs["ivf_recall_curve"](spark, sf).collect()
    }
    adc = {
        r["n_probe"]: r for r in qs["ivf_pq_recall_curve"](spark, sf).collect()
    }
    probes = sorted(exact)
    rec = [exact[p]["recall_at_3"] for p in probes]
    assert rec == sorted(rec), "exact-tier recall must be non-decreasing"
    assert exact[max(probes)]["recall_at_3"] == 1.0, (
        "full probe IS brute force"
    )
    for p in probes:
        assert adc[p]["recall_at_3"] <= exact[p]["recall_at_3"] + 1e-9
        assert adc[p]["avg_candidates"] == exact[p]["avg_candidates"], (
            "the two curves probe the same cells by construction"
        )

    lsh = {
        r["rows_per_band"]: r
        for r in qs["lsh_banding_recall_curve"](spark, sf).collect()
    }
    rs = sorted(lsh)
    for a, b in zip(rs, rs[1:]):
        assert lsh[a]["n_candidates"] >= lsh[b]["n_candidates"], "nested bands"
        assert lsh[a]["recall"] >= lsh[b]["recall"] - 1e-9


def test_cdc_fused_ivf_probe_append_matches_unfused(spark, tmp_path):
    """r14 fused CDC step: ``cdc_probe_append_ivf_layout`` must return
    exactly what the unfused probe-then-append pair returns AND leave the
    layout holding exactly the same (vec_id, cell, emb) rows — the fused
    helper shares one collect and assigns cells driver-side, so this pins
    that the driver argmax == ``ivf_cell_udf``'s assignment and that the
    fused probe never sees the batch it appends."""
    import numpy as np

    from nbi_oedi_etl_spark.operators import ivf_layout as il

    rng = np.random.default_rng(14)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(150)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = corpus.where(F.col("vec_id") % 3 != 0)
    batch = corpus.where(F.col("vec_id") % 3 == 0)

    cent = il.ivf_codebook(base, 8, "vec_id", "embedding", 42)
    d_unfused = str(tmp_path / "unfused")
    d_fused = str(tmp_path / "fused")
    il.write_ivf_layout(base, d_unfused, cent_unit=cent)
    il.write_ivf_layout(base, d_fused, cent_unit=cent)

    want = sorted(map(tuple, il.probe_ivf_layout(
        spark, d_unfused, batch, k=4, query_id_col="vec_id"
    ).collect()))
    il.append_to_ivf_layout(spark, d_unfused, batch)

    fused, append = il.cdc_probe_append_ivf_layout(
        spark, d_fused, batch, k=4, query_id_col="vec_id"
    )
    append()
    got = sorted(map(tuple, fused.collect()))
    assert got == want and len(got) > 0

    def layout_rows(dest):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["emb"]))
            for r in spark.read.parquet(dest).collect()
        )

    assert layout_rows(d_fused) == layout_rows(d_unfused)

    # empty batch: nothing probed, nothing appended, None returned
    empty = batch.where(F.lit(False))
    before = layout_rows(d_fused)
    assert il.cdc_probe_append_ivf_layout(
        spark, d_fused, empty, k=4, query_id_col="vec_id"
    ) is None
    assert layout_rows(d_fused) == before


def test_cdc_fused_ivf_pq_probe_append_matches_unfused(spark, tmp_path):
    """Compressed-tier twin: fused ADC probe + PQ-encoding append ≡ the
    unfused pair, including the stored dense codes (the encode runs over
    the local relation but through the same ``_pq_encode_codes``
    projection), and the every-row dim guard still refuses a mixed-dim
    batch."""
    import numpy as np
    import pytest

    from nbi_oedi_etl_spark.operators import ivf_layout as il

    rng = np.random.default_rng(15)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(150)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = corpus.where(F.col("vec_id") % 3 != 0)
    batch = corpus.where(F.col("vec_id") % 3 == 0)

    d_unfused = str(tmp_path / "unfused")
    d_fused = str(tmp_path / "fused")
    il.write_ivf_pq_layout(base, d_unfused, n_cells=6, pq_m=4, pq_k=8)
    il.write_ivf_pq_layout(base, d_fused, n_cells=6, pq_m=4, pq_k=8)

    want = sorted(map(tuple, il.probe_ivf_pq_layout(
        spark, d_unfused, batch, k=4, query_id_col="vec_id"
    ).collect()))
    il.append_to_ivf_pq_layout(spark, d_unfused, batch)

    fused, append = il.cdc_probe_append_ivf_pq_layout(
        spark, d_fused, batch, k=4, query_id_col="vec_id"
    )
    append()
    got = sorted(map(tuple, fused.collect()))
    assert got == want and len(got) > 0

    def layout_rows(dest):
        df = spark.read.parquet(dest)
        code_cols = sorted(c for c in df.columns if c.startswith("code_"))
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["emb"]),
             tuple(r[c] for c in code_cols))
            for r in df.collect()
        )

    assert layout_rows(d_fused) == layout_rows(d_unfused)

    # mixed-dim batch refused on ANY row (the ADVICE r12 guard, kept
    # by the fused path's driver-side check)
    mixed = spark.createDataFrame(
        [(9001, rng.standard_normal(8).tolist()),
         (9002, rng.standard_normal(6).tolist())],
        "vec_id long, embedding array<double>",
    )
    before = layout_rows(d_fused)
    with pytest.raises(ValueError, match="does not match layout dim"):
        il.cdc_probe_append_ivf_pq_layout(
            spark, d_fused, mixed, k=4, query_id_col="vec_id"
        )
    assert layout_rows(d_fused) == before


def test_banded_precomputed_rows_match_internal_banding(spark, tmp_path):
    """r14 shared-banding CDC contract: probing/appending an INTERNAL
    layout with ``banded_rows_for_layout``-precomputed rows must equal
    the ``new_docs`` route (each leg banding internally) — pairs AND
    layout contents."""
    from nbi_oedi_etl_spark.operators import banded_layout as bl

    docs = [
        (i, f"tok{i % 7} alpha beta gamma delta tok{i % 5} epsilon zeta "
            f"eta theta tok{i % 3}")
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = df.where(F.col("doc_id") % 3 != 0)
    batch = df.where(F.col("doc_id") % 3 == 0)

    d_docs = str(tmp_path / "docs_route")
    d_rows = str(tmp_path / "rows_route")
    for d in (d_docs, d_rows):
        bl.write_banded_layout(base, d, num_hashes=8, bands=4, n_buckets=16)

    want = sorted(map(tuple, bl.probe_banded_layout(
        spark, d_docs, new_docs=batch
    ).collect()))
    bl.append_to_banded_layout(spark, d_docs, new_docs=batch)

    rows = bl.banded_rows_for_layout(spark, d_rows, batch).localCheckpoint(
        eager=True
    )
    got = sorted(map(tuple, bl.probe_banded_layout(
        spark, d_rows, banded_rows=rows
    ).collect()))
    bl.append_to_banded_layout(spark, d_rows, banded_rows=rows)
    assert got == want and len(got) > 0

    def layout_rows(dest):
        return sorted(
            map(tuple, spark.read.parquet(dest)
                .select("doc_id", "band_id", "band_hash", "pcell").collect())
        )

    assert layout_rows(d_rows) == layout_rows(d_docs)

    # the helper refuses an external-family layout (no parameters to band with)
    import pytest

    d_ext = str(tmp_path / "ext")
    ext_rows = bl.band_rows(base, num_hashes=8, bands=4)
    bl.write_banded_layout(None, d_ext, n_buckets=16, banded_rows=ext_rows)
    with pytest.raises(ValueError, match="external"):
        bl.banded_rows_for_layout(spark, d_ext, batch)


# ---------------------------------------------------------------- fast_lit


def test_fast_lit_bit_identical_doubles(spark):
    """fast_lit renders finite doubles through repr -> SQL double literal;
    Double.parseDouble recovers the exact same IEEE bits as the F.lit
    per-element path, including subnormals, huge magnitudes, -0.0 and
    values needing the full 17 significant digits."""
    import struct

    from nbi_oedi_etl_spark.operators._util import fast_lit

    vals = [
        0.1, -0.1, 1 / 3, 2.0, -0.0, 0.0, 1e-310, -1e308, 3.14e-45,
        1e16 + 1.0, 0.051882116641025644, -0.6874962133846153,
    ]
    rows = [vals[0::2], vals[1::2]]
    df = spark.range(1).select(
        F.lit([[float(v) for v in r] for r in rows]).alias("a"),
        fast_lit([[float(v) for v in r] for r in rows]).alias("b"),
    )
    row = df.collect()[0]
    pack = lambda x: struct.pack("<d", x)  # noqa: E731
    assert [len(r) for r in row["a"]] == [len(r) for r in row["b"]]
    for ra, rb in zip(row["a"], row["b"]):
        for x, y in zip(ra, rb):
            assert pack(x) == pack(y)


def test_fast_lit_int_typing_matches_lit(spark):
    """Element types must match F.lit's per-element inference (int32-range
    -> array<int>, wider -> coerced long) so downstream schemas are
    unchanged."""
    from nbi_oedi_etl_spark.operators._util import fast_lit

    small = [0, 15, -7]
    wide = [2**40, 3]
    df = spark.range(1).select(
        F.lit(small).alias("ls"), fast_lit(small).alias("fs"),
        F.lit(wide).alias("lw"), fast_lit(wide).alias("fw"),
    )
    t = dict(df.dtypes)
    assert t["fs"] == t["ls"]
    assert t["fw"] == t["lw"]
    row = df.collect()[0]
    assert list(row["fs"]) == list(row["ls"]) == small
    assert list(row["fw"]) == list(row["lw"]) == wide


def test_fast_lit_falls_back_for_nonliteral_values(spark):
    """inf/nan/empty arrays have no SQL literal rendering; fast_lit must
    fall back to F.lit and still produce the same column values."""
    from nbi_oedi_etl_spark.operators._util import fast_lit

    df = spark.range(1).select(
        fast_lit([float("inf"), 1.0]).alias("inf_arr"),
        fast_lit([float("nan")]).alias("nan_arr"),
        fast_lit([]).alias("empty"),
        fast_lit(3.5).alias("scalar"),
    )
    row = df.collect()[0]
    assert row["inf_arr"][0] == float("inf") and row["inf_arr"][1] == 1.0
    assert row["nan_arr"][0] != row["nan_arr"][0]  # NaN
    assert list(row["empty"]) == []
    assert row["scalar"] == 3.5


def test_cosine_prenormed_bit_identical_to_inline(spark):
    """The r14 pre-normed rerank tail: dividing the per-pair dot by
    norms materialized per side row must produce BIT-identical doubles
    to the inline cosine (same fold over the same operands), including
    on near-tie vectors where a single ulp would flip a round-6 value
    or a rank."""
    import random

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.similarity import (
        _cosine_prenormed,
        _norm,
        cosine,
    )

    rng = random.Random(7)
    rows = []
    for i in range(50):
        a = [rng.gauss(0.0, 1.0) for _ in range(64)]
        # near-ties: half the b side is a +/- a tiny perturbation
        if i % 2:
            b = [x + rng.gauss(0.0, 1e-12) for x in a]
        else:
            b = [rng.gauss(0.0, 1.0) for _ in range(64)]
        rows.append((i, a, b))
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    ).withColumn("_na", _norm(F.col("a"))).withColumn("_nb", _norm(F.col("b")))
    out = df.select(
        cosine(F.col("a"), F.col("b")).alias("inline"),
        _cosine_prenormed(
            F.col("a"), F.col("b"), F.col("_na"), F.col("_nb")
        ).alias("prenormed"),
    ).collect()
    import struct

    for r in out:
        assert struct.pack("d", r["inline"]) == struct.pack("d", r["prenormed"])

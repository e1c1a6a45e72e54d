"""Keying/eviction contract of the session-scoped DataFrame memos
(``memo.Memo`` keyed by ``memo.session_key``).

Round-5 advice: the old ``id(spark)`` key could be recycled by CPython
after a stopped session was garbage-collected, serving a localCheckpoint
bound to a dead SparkContext; entries were also never evicted, pinning
checkpoint RDDs across many-sf_dir sweeps. The fix keys on
``sparkContext.applicationId`` (minted per context — a restarted context
always misses; ``newSession()`` clones share it, and their checkpoints
remain valid) and FIFO-bounds the memo. Pure-logic tests via fakes: the
hazard is the keying, not the Spark build.
"""

from __future__ import annotations

from nbi_oedi_etl_spark.memo import Memo, session_key


class _FakeContext:
    def __init__(self, app_id: str) -> None:
        self.applicationId = app_id


class _FakeSession:
    def __init__(self, app_id: str) -> None:
        self.sparkContext = _FakeContext(app_id)


def test_same_context_reuses_and_restarted_context_rebuilds():
    memo = Memo(8)
    builds = []

    def build_for(tag):
        def build():
            builds.append(tag)
            return f"df-{tag}"

        return build

    s1 = _FakeSession("local-100")
    assert memo.get(session_key(s1, "/sf"), build_for("a")) == "df-a"
    assert memo.get(session_key(s1, "/sf"), build_for("a2")) == "df-a"  # hit
    # a newSession() clone shares the context -> same key, still a hit
    clone = _FakeSession("local-100")
    assert memo.get(session_key(clone, "/sf"), build_for("a3")) == "df-a"
    # id() recycling across a stop(): a NEW context (new applicationId) at
    # the same Python object address must MISS and rebuild
    s2 = _FakeSession("local-200")
    assert memo.get(session_key(s2, "/sf"), build_for("b")) == "df-b"
    assert builds == ["a", "b"]


def test_distinct_sf_dirs_are_distinct_entries():
    memo = Memo(8)
    s = _FakeSession("local-1")
    assert memo.get(session_key(s, "/sf/a"), lambda: "A") == "A"
    assert memo.get(session_key(s, "/sf/b"), lambda: "B") == "B"
    assert memo.get(session_key(s, "/sf/a"), lambda: "A'") == "A"


def test_fifo_eviction_bounds_the_cache():
    bound = 8
    memo = Memo(bound)
    s = _FakeSession("local-1")
    n = bound + 3
    for i in range(n):
        memo.get(session_key(s, f"/sf/{i}"), lambda i=i: f"df-{i}")
    assert len(memo) == bound
    # oldest entries evicted -> rebuilt on next ask
    assert memo.get(session_key(s, "/sf/0"), lambda: "rebuilt") == "rebuilt"
    # newest survive
    assert memo.get(session_key(s, f"/sf/{n-1}"), lambda: "X") == f"df-{n-1}"


def test_none_key_builds_and_stores_nothing():
    memo = Memo(8)
    assert memo.get(None, lambda: "a") == "a"
    assert memo.get(None, lambda: "b") == "b"
    assert len(memo) == 0


def test_invalid_hit_rebuilds_and_drop_invalidates():
    memo = Memo(8)
    assert memo.get("k", lambda: 1) == 1
    assert memo.get("k", lambda: 2, valid=lambda v: v == 1) == 1
    assert memo.get("k", lambda: 2, valid=lambda v: v == 2) == 2
    memo.drop(lambda key: key == "k")
    assert memo.get("k", lambda: 3) == 3



def test_concurrent_population_builds_each_key_once():
    """The lock spans check+build+store: more threads than cores racing
    on a few keys (with a short switch interval to force interleaving)
    build each key exactly once and never overshoot the bound."""
    import concurrent.futures as cf
    import sys
    import threading

    memo = Memo(4)
    builds: list[int] = []
    guard = threading.Lock()

    def build_for(k):
        def build():
            with guard:
                builds.append(k)
            return k

        return build

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with cf.ThreadPoolExecutor(max_workers=16) as ex:
            futs = [ex.submit(memo.get, i % 4, build_for(i % 4)) for i in range(400)]
            assert [f.result(timeout=30) for f in futs] == [i % 4 for i in range(400)]
    finally:
        sys.setswitchinterval(old)
    assert sorted(builds) == [0, 1, 2, 3]
    assert len(memo) == 4

# ---------------------------------------------------------------------------
# Staged-split cache revalidation (workload_banded): a cached staging dir
# must be reused ONLY when all three part files survived; a partial OS
# tempdir sweep (part0/part1 gone, part2 alive — the pre-r14 check only
# looked at part2) must trigger a full re-stage, not a silent ~1/3 drain
# (ADVICE r13 #2 / VERDICT r13 minor finding).
# ---------------------------------------------------------------------------


def _write_tiny_table(path, n=9):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64()),
                  "text": [f"t{i}" for i in range(n)]}),
        path,
    )


def test_stage_mod3_split_restages_after_partial_sweep(tmp_path):
    import os

    from nbi_oedi_etl_spark import workload_banded as wb

    _write_tiny_table(str(tmp_path / "documents.parquet"))
    src = wb._stage_mod3_split(str(tmp_path), "documents", "doc_id")
    assert wb._staged_dir_intact(src)
    # plant the partial sweep: part2 survives, part0/part1 swept
    os.remove(os.path.join(src, "part0.parquet"))
    os.remove(os.path.join(src, "part1.parquet"))
    src2 = wb._stage_mod3_split(str(tmp_path), "documents", "doc_id")
    assert src2 != src and wb._staged_dir_intact(src2)
    # fully-intact dir is reused (memo hit, no re-stage)
    assert wb._stage_mod3_split(str(tmp_path), "documents", "doc_id") == src2


def test_stage_sliced_thirds_restages_after_partial_sweep(tmp_path):
    import os

    from nbi_oedi_etl_spark import workload_banded as wb

    _write_tiny_table(str(tmp_path / "events.parquet"))
    src = wb.stage_sliced_thirds(str(tmp_path), "events")
    assert wb._staged_dir_intact(src)
    os.remove(os.path.join(src, "part1.parquet"))
    src2 = wb.stage_sliced_thirds(str(tmp_path), "events")
    assert src2 != src and wb._staged_dir_intact(src2)
    assert wb.stage_sliced_thirds(str(tmp_path), "events") == src2


def test_stage_population_is_lock_guarded(tmp_path):
    """Concurrent first-callers must stage exactly once (ADVICE r13 #2:
    unsynchronized dict caches double-staged under concurrent probes)."""
    import concurrent.futures as cf

    from nbi_oedi_etl_spark import workload_banded as wb

    _write_tiny_table(str(tmp_path / "embeddings.parquet"))
    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        dirs = list(
            ex.map(
                lambda _: wb.stage_sliced_thirds(str(tmp_path), "embeddings"),
                range(8),
            )
        )
    assert len(set(dirs)) == 1

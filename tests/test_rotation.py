"""Round-7 rotation audit: the driver hash-verifies a 50-spec PREFIX of
``workload.SPECS`` per round, so correctness evidence only accrues to
specs that have actually been inside a window — and only stays valid
while the spec's implementation is unchanged.

The round-7 policy (VERDICT r6 task 1) is *changed-since-green*: every
oracled spec that was never driver-verified, or whose content digest
(dep-function sources + referenced module-level constants + oracle SQL,
see ``tools/rotation_audit.py``) differs from the digest it had at its
last driver-green round boundary, MUST sit inside the current window or
the documented ``_POST_R15_ADDITIONS`` overflow queue.  This makes every
future window self-auditing: touch a file mid-round and the affected
specs demand a window slot before the round can ship.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import subprocess
import sys

import pytest

from nbi_oedi_etl_spark import workload

_REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO / "tools"))

import rotation_audit  # noqa: E402


def test_window_is_prefix_and_fully_oracled():
    names = [s.name for s in workload.SPECS]
    assert len(workload._R15_WINDOW) == 50
    assert len(set(workload._R15_WINDOW)) == 50
    assert names[:50] == workload._R15_WINDOW
    by_name = {s.name: s for s in workload.SPECS}
    # oracle-backed except the three documented rows-only CDC streams
    # (the driver records their weaker row check — VERDICT r12 task 1)
    assert all(
        by_name[n].oracle is not None or n in workload._ROWS_ONLY_WINDOW_OK
        for n in workload._R15_WINDOW
    )
    assert all(by_name[n].oracle is None for n in workload._ROWS_ONLY_WINDOW_OK)


def test_rotate_rejects_unregistered_window_name(monkeypatch):
    # a misspelled or deleted window name must fail the import, not
    # silently shorten the verified prefix
    window = workload._R15_WINDOW[:-1] + ["no_such_spec"]
    monkeypatch.setattr(workload, "_R15_WINDOW", window)
    with pytest.raises(KeyError, match="no_such_spec"):
        workload._rotate(list(workload.SPECS))


def test_changed_since_green_debt_is_inside_window():
    """The codified rotation policy: stale evidence => window slot.

    Uses the committed per-round digest snapshots
    (tools/spec_digests/r{N}.json); if a boundary snapshot is missing it
    is rebuilt from a temporary git worktree at that round's driver
    commit, so the check works on any checkout with history.
    """
    if not list(_REPO.glob("CORRECTNESS_r[0-9]*.json")):
        return  # fresh checkout without driver artifacts
    debt = rotation_audit.verification_debt()
    allowed = set(workload._R15_WINDOW) | set(workload._POST_R15_ADDITIONS)
    outside = sorted(set(debt) - allowed)
    assert outside == [], (
        "specs with stale driver evidence not scheduled for re-verification: "
        + ", ".join(f"{n} ({debt[n]})" for n in outside)
    )


def test_digests_ignore_memo_cache_warmth():
    """v3 regression pin: module-level memo caches must not enter the
    digest — v2 hashed them by value, so running queries (warming caches)
    spuriously flagged the minhash/dedup specs when the audit ran late in
    a pytest session."""
    digests_cold = rotation_audit.spec_digests(_REPO)
    # simulate cache warmth without a Spark session: add an entry to every
    # module-level dict and Memo that spec functions reference
    from nbi_oedi_etl_spark import workload_banded, workload_ext, workload_ext36
    from nbi_oedi_etl_spark.memo import Memo
    from nbi_oedi_etl_spark.operators import banded_layout
    from nbi_oedi_etl_spark.sources import parquet

    probe = "__digest_warmth_probe__"
    memos = [
        val
        for mod in (workload_ext, workload_banded, workload_ext36, parquet, banded_layout)
        for val in vars(mod).values()
        if isinstance(val, Memo)
    ]
    assert memos, "no memo to warm: the probe would test nothing"
    poisoned = []
    for name, val in vars(workload_ext).items():
        if isinstance(val, dict) and not name.startswith("__"):
            val[probe] = object()
            poisoned.append(val)
    for m in memos:
        m.get((probe,), object)
    try:
        digests_warm = rotation_audit.spec_digests(_REPO)
    finally:
        for val in poisoned:
            val.pop(probe, None)
        for m in memos:
            m.drop(lambda key: key == (probe,))
    assert digests_cold == digests_warm


def test_spec_digests_ignore_where_the_checkout_sits(tmp_path):
    """Two copies of the package, each digested through the RELATIVE root
    ``Path(".")`` in its own process, must agree on every spec: ``rel()``
    once fell back to absolute paths for a relative root, so every spec
    read as moved between two checkouts."""
    script = (
        "import json, pathlib, sys; sys.path[:0] = ['.', sys.argv[1]]; "
        "import rotation_audit; "
        "print(json.dumps(rotation_audit.spec_digests(pathlib.Path('.'))))"
    )
    procs = []
    for name in ("a", "b"):  # the two digests run side by side
        copy = tmp_path / name
        shutil.copytree(
            _REPO / "nbi_oedi_etl_spark", copy / "nbi_oedi_etl_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        procs.append(subprocess.Popen(
            [sys.executable, "-c", script, str(_REPO / "tools")],
            cwd=copy, stdout=subprocess.PIPE, text=True,
        ))
    digests = []
    for p in procs:
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0
        digests.append(json.loads(out.splitlines()[-1]))
    assert len(digests[0]) == len(workload.SPECS)
    moved = sorted(n for n, d in digests[0].items() if digests[1].get(n) != d)
    assert moved == []

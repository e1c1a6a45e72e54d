"""Spark-free pins on the foreachBatch streams: ``.foreachBatch(`` is
called only by ``streaming/foreach_batch.run_batches``, and no step a
spec hands to it keeps state in a closure. A step's state lives under
its root (``foreach_batch.last_committed``), so a dict, list or set in a
closure cell is state a restart would lose. The specs run with their
drain replaced by a stub that only builds the step, so no Spark session
starts."""

from __future__ import annotations

import importlib
import pathlib
import types

import pytest

from nbi_oedi_etl_spark import workload_banded

_REPO = pathlib.Path(__file__).resolve().parent.parent

_SPECS = [
    ("workload_ext19", "streaming_foreachbatch_upsert"),
    ("workload_ext32", "streaming_cumulative_unique_users"),
    ("workload_ext32", "streaming_ewma_daily"),
    ("workload_ext34", "streaming_pack_sequences"),
    ("workload_banded", "streaming_banded_cdc_dedup"),
    ("workload_banded", "streaming_banded_cdc_dedup_production"),
    ("workload_banded", "streaming_ivf_cdc_ann"),
    ("workload_banded", "streaming_ivf_pq_cdc_ann"),
]


class _Built(Exception):
    """Raised by the stub drain once the step is built."""


def _mutable_cells(fn: types.FunctionType) -> list[str]:
    """Closure cells holding a dict, list or set — through every function
    the closure reaches."""
    found = []
    for name, cell in zip(fn.__code__.co_freevars, fn.__closure__ or ()):
        value = cell.cell_contents
        if isinstance(value, (dict, list, set)):
            found.append(f"{fn.__qualname__}:{name}")
        elif isinstance(value, types.FunctionType):
            found += _mutable_cells(value)
    return found


def test_foreach_batch_is_called_only_by_the_runner():
    pkg = _REPO / "nbi_oedi_etl_spark"
    callers = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if ".foreachBatch(" in p.read_text()
    )
    assert callers == ["streaming/foreach_batch.py"]


@pytest.mark.parametrize("module,spec", _SPECS, ids=[s for _, s in _SPECS])
def test_spec_step_keeps_no_state_in_its_closure(module, spec, monkeypatch, tmp_path):
    steps = []

    def build_only(spark, sf_dir, *args):
        make_step = args[-2]  # (..., make_step, prefix)
        steps.append(make_step(str(tmp_path)))
        raise _Built

    monkeypatch.setattr(workload_banded, "drain_mod3_batches", build_only)
    monkeypatch.setattr(workload_banded, "drain_event_thirds", build_only)
    fn = getattr(importlib.import_module(f"nbi_oedi_etl_spark.{module}"), spec)
    with pytest.raises(_Built):
        fn(None, str(tmp_path))
    (step,) = steps
    assert _mutable_cells(step) == []


def test_closure_scan_sees_a_nested_dict():
    """The scan is not vacuous: a dict two closures deep is reported."""

    def make_step(root):
        state = {"version": -1}

        def bump(batch_id):
            state["version"] = batch_id

        def step(batch_df, batch_id):
            bump(batch_id)

        return step

    (cell,) = _mutable_cells(make_step("r"))
    assert cell.endswith("make_step.<locals>.bump:state")


def test_drain_dirs_share_one_parent_removed_at_exit(monkeypatch):
    """Every drain root and staged split lands under one per-process
    parent in the OS temp dir, and the handler registered at exit
    removes it (before, each call left its own mkdtemp behind)."""
    import os
    import tempfile

    handlers = []
    monkeypatch.setattr(workload_banded, "_drain_parent", None)
    monkeypatch.setattr(
        workload_banded.atexit, "register", lambda fn, *args: handlers.append((fn, args))
    )
    a = workload_banded._drain_dir("a_")
    b = workload_banded._drain_dir("b_")
    parent = os.path.dirname(a)
    assert os.path.dirname(b) == parent and a != b
    assert os.path.dirname(parent) == tempfile.gettempdir()
    assert os.path.basename(a).startswith("a_")
    (fn, args), = handlers  # one parent, one handler
    fn(*args)
    assert not os.path.exists(parent)

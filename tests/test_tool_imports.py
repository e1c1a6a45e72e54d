"""The probes and benchmarks under ``tools/``, ``bench.py`` and
``perfbench/`` are never imported by the suite, so deleting or renaming
an operator would break them silently. Parse them with ``ast`` (no
Spark session, no tool code runs) and check that every package name
they import — and every ``<module>.<attr>`` they read off an imported
package module — still resolves."""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

import pytest

_REPO = pathlib.Path(__file__).resolve().parent.parent
_PKG = "nbi_oedi_etl_spark"
_SOURCES = sorted(
    [*_REPO.glob("tools/*.py"), _REPO / "bench.py", *_REPO.glob("perfbench/*.py")]
)


def _resolve(module: str, name: str) -> object:
    """``from module import name``: an attribute, else a submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _dangling(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    modules: dict[str, types.ModuleType] = {}  # local name -> package module
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == _PKG:
            for alias in node.names:
                try:
                    obj = _resolve(node.module, alias.name)
                except ImportError:
                    missing.append(f"{node.lineno}: from {node.module} import {alias.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    modules[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == _PKG and alias.asname:
                    modules[alias.asname] = importlib.import_module(alias.name)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"{node.lineno}: {node.value.id}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", _SOURCES, ids=lambda p: str(p.relative_to(_REPO)))
def test_tool_package_references_resolve(path):
    assert _dangling(path) == []


def test_scan_catches_a_deleted_operator(tmp_path):
    """The scan itself is not vacuous: a from-import of a missing name and
    a missing attribute on an imported module are both reported."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from nbi_oedi_etl_spark.operators.skew import no_such_operator\n"
        "def main():\n"
        "    from nbi_oedi_etl_spark.operators import skew\n"
        "    return skew.no_such_wrapper(), skew.keyed_cumsum_two_pass\n"
    )
    assert _dangling(probe) == [
        "1: from nbi_oedi_etl_spark.operators.skew import no_such_operator",
        "4: skew.no_such_wrapper",
    ]
    assert any(p.name == "packing_skew_probe.py" for p in _SOURCES)

"""Changed-since-green rotation audit (round-7 policy, VERDICT r6 task 1).

The external driver hash-verifies a 50-spec PREFIX of ``workload.SPECS``
per round, so a spec's correctness evidence is only as fresh as the last
round it sat inside a window AND its implementation has not changed
since.  This tool computes, for every oracled spec, a *content digest*
and compares it against the digest the spec had at its last driver-green
round:

- dependency discovery walks the query fn's ``__code__.co_names``
  through ``__globals__`` transitively (function granularity), so a
  change to ``operators/dedup.py`` flags the minhash consumers without
  flagging every spec in the package;
- the digest is *function-granular everywhere*: each dependency
  function/class's ``inspect.getsource`` text, plus every module-level
  constant any dep function references by name (``co_names`` includes
  attribute names, so ``mod.CONSTANT`` is captured), plus the spec's
  oracle SQL string.  Whole-file hashing is deliberately avoided — the
  workload modules *grow* every round (appended specs) and workload.py's
  rotation lists churn, neither of which touches existing semantics;
- historical digests are computed by materializing each round's driver
  boundary commit in a temporary ``git worktree`` and re-running this
  script's ``--dump`` mode there; results are cached in
  ``tools/spec_digests/r{N}.json`` (committed, so each boundary is
  computed once ever).

Specs whose digest differs from their last-green digest — or that were
never driver-verified — are the round's *verification debt* and must sit
inside the current window (or the documented ``_POST_R15_ADDITIONS``
overflow queue).  ``tests/test_rotation.py`` imports
``verification_debt()`` so every future window self-audits.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import json
import pathlib
import re
import subprocess
import sys
import tempfile
import types

_THIS = pathlib.Path(__file__).resolve()
_REPO = _THIS.parent.parent
_PKG = "nbi_oedi_etl_spark"
_DIGEST_DIR = _REPO / "tools" / "spec_digests"

# Bump whenever the digest computation changes. Snapshot caches record the
# version they were computed with; a mismatch forces recomputation (via the
# CURRENT script run against the historical worktree), so new-algorithm
# current digests are never compared against old-algorithm snapshots
# (ADVICE r7). v2: + stable-value hashing of referenced simple-valued
# globals (covers ``from mod import CONST``) and of function default
# arguments (covers constants that never appear in co_names), + AST walk
# of function-LOCAL imports (the executor-import idiom binds to locals,
# invisible to the __globals__ walk — e.g. the multimodal→webp edge).
# v3: value hashing restricted to IMMUTABLE values (scalars, tuples,
# frozensets) — v2 hashed dict/list/set contents, and module-level memo
# CACHES are exactly that shape, so digests drifted with cache warmth
# (the full pytest suite warmed the minhash signature memo and three
# dedup specs spuriously flagged). Mutable lookup tables keep coverage
# through their assignment SOURCE in the dep-file index.
_ALGO_VERSION = 4
# v4: function-local `from workload_x import fn` edges now expand the
# NAMED member function-granularly instead of being skipped by the
# blanket "workload" module guard (which silently dropped the
# ext34→workload_banded.drain_mod3_batches edge: streaming_pack_sequences
# stayed unflagged when the shared drain harness changed, round 13). A
# named member that is itself a workload MODULE is still skipped.


# ---------------------------------------------------------------- git side
def round_boundaries() -> dict[int, str]:
    """Map round number -> the driver's end-of-round commit hash.

    The driver commits ``round N: verdict/advice/correctness/bench``
    immediately after generating CORRECTNESS_rN, so that commit is the
    exact code state the round-N evidence applies to.
    """
    out = subprocess.run(
        ["git", "log", "--format=%H\t%s"],
        cwd=_REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    bounds: dict[int, str] = {}
    for line in out.splitlines():
        sha, _, subject = line.partition("\t")
        m = re.match(r"round (\d+): verdict", subject)
        if m:
            # log is newest-first; keep the newest commit per round
            bounds.setdefault(int(m.group(1)), sha)
    return bounds


# --------------------------------------------------------- evidence side
def _record_green(rec: dict) -> bool:
    if rec.get("err") is not None:
        return False
    checks = [v for k, v in rec.items() if k.endswith("_match")]
    return bool(checks) and all(checks)


def last_green_round() -> dict[str, int]:
    greens: dict[str, int] = {}
    for path in sorted(_REPO.glob("CORRECTNESS_r[0-9]*.json")):
        m = re.search(r"r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, rec in json.loads(path.read_text()).items():
            if _record_green(rec):
                greens[name] = max(greens.get(name, 0), rnd)
    return greens


# ------------------------------------------------------ dependency side
def _collect_code_names(code: types.CodeType, names: set[str]) -> None:
    names.update(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            _collect_code_names(const, names)


_LOCAL_IMPORT_CACHE: dict[types.CodeType, list[tuple[str, str | None]]] = {}


def _local_imports(fn: types.FunctionType) -> list[tuple[str, str | None]]:
    """In-package imports appearing anywhere in ``fn``'s source, as
    ``(module, member-or-None)`` pairs. ``import pkg.mod`` yields
    ``(pkg.mod, None)``; ``from pkg.mod import x`` yields
    ``(pkg.mod, 'x')``."""
    code = fn.__code__
    if code in _LOCAL_IMPORT_CACHE:
        return _LOCAL_IMPORT_CACHE[code]
    import inspect
    import textwrap

    out: list[tuple[str, str | None]] = []
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, SyntaxError, TypeError):
        tree = None
    if tree is not None:
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(_PKG):
                        out.append((alias.name, None))
            elif (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.startswith(_PKG)
            ):
                for alias in node.names:
                    out.append((node.module, alias.name))
    _LOCAL_IMPORT_CACHE[code] = out
    return out


def _expand(
    obj: object,
    files: set[str],
    fns: list[types.FunctionType],
    classes: list[type],
    seen: set[int],
) -> None:
    """Collect dependency files, functions, and classes transitively."""
    if id(obj) in seen:
        return
    seen.add(id(obj))
    # unwrap pandas_udf/UDTF wrappers, functools.partial, bound methods
    inner = getattr(obj, "func", None)
    if inner is not None and not isinstance(obj, (types.ModuleType, type)):
        _expand(inner, files, fns, classes, seen)
    inner = getattr(obj, "__func__", None)
    if inner is not None:
        _expand(inner, files, fns, classes, seen)
    if isinstance(obj, types.ModuleType):
        if not obj.__name__.startswith(_PKG):
            return
        f = getattr(obj, "__file__", None)
        if f:
            files.add(str(pathlib.Path(f).resolve()))
        for member in vars(obj).values():
            # never traverse INTO a workload module from another module —
            # workload.py imports every ext module, and module-granular
            # expansion there would flag all 240+ specs on any edit
            if isinstance(member, types.ModuleType) and "workload" in getattr(
                member, "__name__", ""
            ):
                continue
            if isinstance(
                member, (types.ModuleType, types.FunctionType, type)
            ) and getattr(member, "__module__", getattr(member, "__name__", "")).startswith(
                _PKG
            ):
                _expand(member, files, fns, classes, seen)
    elif isinstance(obj, types.FunctionType):
        if not getattr(obj, "__module__", "").startswith(_PKG):
            return
        try:
            src_file = str(pathlib.Path(obj.__code__.co_filename).resolve())
        except (OSError, TypeError):
            return
        files.add(src_file)
        fns.append(obj)
        names: set[str] = set()
        _collect_code_names(obj.__code__, names)
        g = obj.__globals__
        for n in sorted(names):
            if n in g:
                _expand(g[n], files, fns, classes, seen)
        for cell in obj.__closure__ or ():
            try:
                _expand(cell.cell_contents, files, fns, classes, seen)
            except ValueError:
                pass
        # default-argument values never appear in co_names; callables
        # hiding there (strategy objects, helper fns) must still expand
        for dflt in (obj.__defaults__ or ()) + tuple(
            (obj.__kwdefaults__ or {}).values()
        ):
            if isinstance(dflt, (types.ModuleType, types.FunctionType, type)):
                _expand(dflt, files, fns, classes, seen)
        # function-LOCAL imports (`from nbi_oedi_etl_spark.operators
        # import webp` inside a body — the executor-import idiom used by
        # the multimodal UDFs) bind to locals, never __globals__, so the
        # co_names walk above cannot reach them; walk the AST for them
        for modname, member in _local_imports(obj):
            try:
                mod = __import__(modname, fromlist=["_"])
            except ImportError:
                continue
            if member is None:
                # bare `import pkg.workload_x`: module-granular expansion
                # would flag every spec in it on any edit (same guard as
                # the module walk above)
                if "workload" in modname:
                    continue
                _expand(mod, files, fns, classes, seen)
                continue
            f = getattr(mod, "__file__", None)
            if f:
                # constants imported by name are then covered by the
                # ref_names ∩ assigns hash (IMPORT_FROM puts the name
                # in co_names)
                files.add(str(pathlib.Path(f).resolve()))
            target = getattr(mod, member, None)
            if target is None:
                # `from pkg.operators import webp` where webp is a lazily
                # imported SUBMODULE: not bound on the package until its
                # first import, so import it explicitly
                try:
                    target = __import__(f"{modname}.{member}", fromlist=["_"])
                except ImportError:
                    target = None
            if isinstance(target, types.ModuleType) and "workload" in getattr(
                target, "__name__", ""
            ):
                # `from pkg import workload_x`: the named member IS a
                # workload module — same module-granularity guard
                continue
            if isinstance(target, (types.ModuleType, types.FunctionType, type)):
                # named FUNCTIONS/classes from workload modules expand
                # function-granularly (v4: the old blanket `"workload" in
                # modname` skip silently dropped real edges — e.g.
                # ext34's `from workload_banded import drain_mod3_batches`
                # left streaming_pack_sequences unflagged when the shared
                # drain harness changed)
                _expand(target, files, fns, classes, seen)
    elif isinstance(obj, type):
        if not getattr(obj, "__module__", "").startswith(_PKG):
            return
        classes.append(obj)
        mod = sys.modules.get(obj.__module__)
        f = getattr(mod, "__file__", None) if mod else None
        if f:
            files.add(str(pathlib.Path(f).resolve()))
        for member in vars(obj).values():
            fn = getattr(member, "__func__", member)
            if isinstance(fn, types.FunctionType):
                _expand(fn, files, fns, classes, seen)


class _ModuleIndex:
    """Top-level assignment source segments of a project file, by
    target name (captures lookup tables / oracle constants / configs)."""

    _cache: dict[str, "_ModuleIndex"] = {}

    def __init__(self, path: str):
        src = pathlib.Path(path).read_text()
        tree = ast.parse(src)
        self.assigns: dict[str, str] = {}
        for node in tree.body:
            seg = ast.get_source_segment(src, node) or ""
            if isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        self.assigns[tgt.id] = seg
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                self.assigns[node.target.id] = seg

    @classmethod
    def of(cls, path: str) -> "_ModuleIndex":
        if path not in cls._cache:
            cls._cache[path] = cls(path)
        return cls._cache[path]


# rotation bookkeeping churns every round without touching semantics;
# keep those names out of the digest
_BOOKKEEPING_RE = re.compile(r"^_(R\d+_(WINDOW|QUEUE)|POST_R\d+_ADDITIONS)$")


def _stable_repr(value: object, depth: int = 0) -> str | None:
    """Deterministic repr for digesting constant VALUES, or None when the
    value cannot be trusted as a constant: arbitrary objects embed
    addresses in repr, set iteration order depends on PYTHONHASHSEED, and
    MUTABLE containers (dict/list/set) are deliberately excluded — they
    are the shape of module-level memo caches, whose contents vary with
    process history (v3; see _ALGO_VERSION). Mutable lookup tables stay
    covered through their assignment source in _ModuleIndex."""
    if depth > 6:
        return None
    if value is None or isinstance(value, (bool, int, float, str, bytes)):
        return repr(value)
    if isinstance(value, tuple):
        parts = [_stable_repr(v, depth + 1) for v in value]
        if any(p is None for p in parts):
            return None
        return f"tuple[{','.join(parts)}]"  # type: ignore[arg-type]
    if isinstance(value, frozenset):
        parts = [_stable_repr(v, depth + 1) for v in value]
        if any(p is None for p in parts):
            return None
        return f"frozenset{{{','.join(sorted(parts))}}}"  # type: ignore[arg-type]
    return None


def spec_digests(root: pathlib.Path) -> dict[str, str]:
    """Per-spec content digest for the package rooted at ``root``.

    Must be called with ``root`` first on ``sys.path`` (and the package
    not yet imported from elsewhere).
    """
    import inspect

    from nbi_oedi_etl_spark import workload

    _ModuleIndex._cache.clear()
    # rel() compares against resolved paths: a relative root would make
    # every path fall back to absolute, and digests depend on where the
    # checkout sits
    root = root.resolve()

    def rel(path: str) -> str:
        p = pathlib.Path(path).resolve()
        try:
            return str(p.relative_to(root))
        except ValueError:
            return str(p)

    src_cache: dict[int, tuple[str, str, str]] = {}

    def obj_source(o) -> tuple[str, str, str]:
        if id(o) not in src_cache:
            try:
                src = inspect.getsource(o)
            except (OSError, TypeError):
                src = ""
            src_cache[id(o)] = (rel(inspect.getfile(o)), o.__qualname__, src)
        return src_cache[id(o)]

    digests: dict[str, str] = {}
    for spec in workload.SPECS:
        files: set[str] = set()
        fns: list[types.FunctionType] = []
        classes: list[type] = []
        _expand(spec.fn, files, fns, classes, set())
        h = hashlib.sha256()
        # every dep function/class enters as its own source text
        entries = sorted({obj_source(o) for o in [*fns, *classes]})
        ref_names: set[str] = set()
        for fn in fns:
            _collect_code_names(fn.__code__, ref_names)
        for path, qualname, src in entries:
            h.update(path.encode())
            h.update(qualname.encode())
            h.update(src.encode())
        # module-level constants referenced by name from any dep file
        # (co_names includes attribute names, so mod.CONSTANT is seen)
        for f in sorted(files):
            idx = _ModuleIndex.of(f)
            for name in sorted(ref_names & set(idx.assigns)):
                if _BOOKKEEPING_RE.match(name):
                    continue
                h.update(rel(f).encode())
                h.update(name.encode())
                h.update(idx.assigns[name].encode())
        # VALUE-level coverage for constants the assign index misses
        # (ADVICE r7): names bound by ``from mod import CONST`` resolve
        # through __globals__ to a plain value with no Assign in the
        # importing file, and default-argument values never appear in
        # co_names at all. Hash their stable reprs directly.
        value_entries: set[tuple[str, str]] = set()
        for fn in fns:
            g = fn.__globals__
            fn_names: set[str] = set()
            _collect_code_names(fn.__code__, fn_names)
            for name in fn_names:
                if name in g and not _BOOKKEEPING_RE.match(name):
                    sr = _stable_repr(g[name])
                    if sr is not None:
                        value_entries.add((name, sr))
            for i, dflt in enumerate(fn.__defaults__ or ()):
                sr = _stable_repr(dflt)
                if sr is not None:
                    value_entries.add((f"{fn.__qualname__}:default:{i}", sr))
            for kw, dflt in (fn.__kwdefaults__ or {}).items():
                sr = _stable_repr(dflt)
                if sr is not None:
                    value_entries.add((f"{fn.__qualname__}:kwdefault:{kw}", sr))
        for name, sr in sorted(value_entries):
            h.update(name.encode())
            h.update(sr.encode())
        if spec.oracle is not None:
            h.update(spec.oracle.encode())
        digests[spec.name] = h.hexdigest()
    return digests


# ------------------------------------------------- historical digests
def _dump_digests(root: pathlib.Path, out: pathlib.Path) -> None:
    sys.path.insert(0, str(root))
    # defensive: drop any already-imported package modules
    for mod in [m for m in sys.modules if m.split(".")[0] == _PKG]:
        del sys.modules[mod]
    out.write_text(json.dumps(spec_digests(root), indent=1, sort_keys=True))


def boundary_digests(rnd: int, sha: str) -> dict[str, str]:
    """Digests of every spec as of round ``rnd``'s boundary commit
    (cached in tools/spec_digests/r{rnd}.json)."""
    _DIGEST_DIR.mkdir(parents=True, exist_ok=True)
    cache = _DIGEST_DIR / f"r{rnd}.json"
    if cache.exists():
        data = json.loads(cache.read_text())
        # versioned snapshots only (ADVICE r7): a flat dict is a pre-v2
        # cache, and any algo mismatch forces recomputation with the
        # current script so digests are always compared like-for-like
        if isinstance(data, dict) and data.get("algo") == _ALGO_VERSION:
            return data["digests"]
    with tempfile.TemporaryDirectory(prefix=f"rot-audit-r{rnd}-") as tmp:
        wt = pathlib.Path(tmp) / "wt"
        subprocess.run(
            ["git", "worktree", "add", "--detach", str(wt), sha],
            cwd=_REPO,
            check=True,
            capture_output=True,
        )
        try:
            out = wt / "digests.json"
            subprocess.run(
                [sys.executable, str(_THIS), "--dump", str(out), "--root", str(wt)],
                check=True,
                capture_output=True,
                text=True,
            )
            digests = json.loads(out.read_text())
        finally:
            subprocess.run(
                ["git", "worktree", "remove", "--force", str(wt)],
                cwd=_REPO,
                capture_output=True,
            )
    cache.write_text(
        json.dumps(
            {"algo": _ALGO_VERSION, "digests": digests}, indent=1, sort_keys=True
        )
    )
    return digests


# --------------------------------------------------------------- report
def verification_debt() -> dict[str, str]:
    """Oracled specs whose driver evidence is stale.

    Returns ``{spec_name: "never-verified" | "changed-since-r{N}"}``.
    """
    if str(_REPO) not in sys.path:
        sys.path.insert(0, str(_REPO))
    from nbi_oedi_etl_spark import workload

    bounds = round_boundaries()
    greens = last_green_round()
    current = spec_digests(_REPO)
    debt: dict[str, str] = {}
    hist_cache: dict[int, dict[str, str]] = {}
    for spec in workload.SPECS:
        if spec.oracle is None:
            continue  # rows-only: shadowed by oracled portable twins
        rnd = greens.get(spec.name)
        if rnd is None:
            debt[spec.name] = "never-verified"
            continue
        if rnd not in bounds:
            # FAIL CLOSED (ADVICE r7): a green record with no matching
            # boundary commit (shallow clone, reworded driver subject,
            # evidence committed ahead of the boundary) means we cannot
            # prove the code hasn't drifted — that is debt, not freshness
            debt[spec.name] = f"boundary-missing-r{rnd}"
            continue
        if rnd not in hist_cache:
            hist_cache[rnd] = boundary_digests(rnd, bounds[rnd])
        then = hist_cache[rnd].get(spec.name)
        if then is None or then != current[spec.name]:
            debt[spec.name] = f"changed-since-r{rnd}"
    return debt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dump", type=pathlib.Path, default=None)
    ap.add_argument("--root", type=pathlib.Path, default=_REPO)
    args = ap.parse_args()
    if args.dump is not None:
        _dump_digests(args.root.resolve(), args.dump)
        return
    if str(_REPO) not in sys.path:
        sys.path.insert(0, str(_REPO))
    greens = last_green_round()
    debt = verification_debt()
    print(f"last-green rounds recorded for {len(greens)} specs")
    print(f"verification debt: {len(debt)} specs")
    for name, why in sorted(debt.items()):
        print(f"  {name}: {why}")


if __name__ == "__main__":
    main()

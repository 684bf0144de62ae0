"""Static hygiene checks that need no Spark session.

Reachability: every top-level function and class of the package must be
reached from the engine's entry points, or be on the written allowlist
(tests/reachability_allowlist.txt) with a reason. The closure is
name-level, over the AST:

* roots: ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` (without
  its tests) and ``tools/``, plus every module-level statement of the
  package that is not a def;
* a use is an AST ``Name``, an ``Attribute``'s attr, an ``ImportFrom``
  name, or an identifier-shaped string constant (the query registry and
  ``getattr`` look names up by string);
* a re-export in an ``__init__`` (its ``from ... import`` lines and
  ``__all__``) is not a use;
* a def is reached when its name is used by a root or by a reached def.

Slow list: every nodeid in tests/slow_tests.txt must name a test that
exists, so the list cannot keep marking tests that are gone.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "hdinsight_pyspark_cntk_integration_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("perfbench", "tools")
ALLOWLIST = Path(__file__).with_name("reachability_allowlist.txt")
SLOW_LIST = Path(__file__).with_name("slow_tests.txt")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _uses(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _py_files(path: Path):
    if path.is_file():
        yield path
        return
    for f in sorted(path.rglob("*.py")):
        if "tests" not in f.relative_to(path).parts:
            yield f


def _is_reexport(st: ast.stmt) -> bool:
    if isinstance(st, ast.ImportFrom):
        return True
    return isinstance(st, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in st.targets
    )


def closure() -> tuple[dict[str, ast.AST], set[str]]:
    """(every package def as ``module:name`` -> its node, the reached ones)."""
    used: set[str] = set()
    for root in (*ROOT_FILES, *ROOT_DIRS):
        for f in _py_files(ROOT / root):
            used |= _uses(ast.parse(f.read_text(), str(f)))
    defs: dict[str, ast.AST] = {}
    for f in _py_files(ROOT / PKG):
        parts = f.relative_to(ROOT / PKG).with_suffix("").parts
        is_init = parts[-1] == "__init__"
        module = ".".join(parts[:-1] if is_init else parts)
        for st in ast.parse(f.read_text(), str(f)).body:
            if isinstance(st, _DEF):
                defs[f"{module}:{st.name}"] = st
            elif not (is_init and _is_reexport(st)):
                used |= _uses(st)
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, st in defs.items():
            if key not in reached and st.name in used:
                reached.add(key)
                used |= _uses(st)
                grew = True
    return defs, reached


def _allowlist() -> dict[str, str]:
    entries: dict[str, str] = {}
    for n, line in enumerate(ALLOWLIST.read_text().splitlines(), 1):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        key, _, reason = line.partition("#")
        assert reason.strip(), f"{ALLOWLIST.name}:{n}: entry without a reason"
        assert key.strip() not in entries, f"{ALLOWLIST.name}:{n}: duplicate entry"
        entries[key.strip()] = reason.strip()
    return entries


def test_package_code_is_reached_or_allowlisted():
    defs, reached = closure()
    allowed = _allowlist()
    unreached = sorted(set(defs) - reached - set(allowed))
    assert not unreached, (
        "package defs that no query, benchmark or tool reaches (delete them, "
        f"or allowlist them with a reason in {ALLOWLIST.name}): {unreached}"
    )
    missing = sorted(k for k in allowed if k not in defs)
    assert not missing, f"{ALLOWLIST.name} names defs that no longer exist: {missing}"
    now_reached = sorted(k for k in allowed if k in reached)
    assert not now_reached, f"{ALLOWLIST.name} names defs that are now reached: {now_reached}"


def test_slow_list_names_existing_tests():
    tests_dir = SLOW_LIST.parent
    trees: dict[str, ast.Module] = {}
    stale = []
    lines = [ln.strip() for ln in SLOW_LIST.read_text().splitlines() if ln.strip()]
    assert len(lines) == len(set(lines)), "duplicate nodeids in slow_tests.txt"
    for nodeid in lines:
        path, *names = nodeid.split("::")
        f = tests_dir.parent / path
        if not names or not f.is_file():
            stale.append(nodeid)
            continue
        if path not in trees:
            trees[path] = ast.parse(f.read_text(), str(f))
        body = trees[path].body
        for name in names:
            node = next(
                (st for st in body if isinstance(st, _DEF) and st.name == name), None
            )
            if node is None:
                stale.append(nodeid)
                break
            body = node.body
    assert not stale, f"slow_tests.txt names tests that do not exist: {stale}"

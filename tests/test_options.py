"""Option guard: every default-valued parameter of a module-level function
or method in the package (outside the ``plans/`` registry) must be passed,
by keyword or by position, at one or more call sites in the repository.

An option that no caller sets has one value in use; it is a constant with
a name in the signature, and each of its other values is a configuration
that no test, query or workload runs. Make it a constant at the point of
use instead, or pass it from a caller that needs another value.

Call sites are read with ``ast`` from the package (registry included),
``tests/``, ``scripts/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``. Callees are matched by bare name, with
``from … import f as g`` aliases resolved; a call to a class counts for its
``__init__``, and a method called as ``obj.m(…)`` skips ``self``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "multi_format_document_extractor_spark"
CALLERS = (
    PACKAGE,
    REPO / "tests",
    REPO / "scripts",
    REPO / "perfbench",
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

# deployment settings, kept configurable although no caller in the
# repository sets them: "<function>.<parameter>" -> reason
ALLOWED = {
    "make_pyfiles_zip.out_path": "where a spark-submit user writes the "
    "package zip (documented in its docstring)",
}


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _defaults(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [p.arg for p in pos[len(pos) - len(a.defaults) :]]
    return names + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]


def _defs() -> list[tuple[str, str, ast.FunctionDef, bool]]:
    """(module path, call name, def, binds self) for every module-level
    function and method of a module-level class outside ``plans/``; an
    ``__init__`` is called by its class name."""
    out = []
    for path in _py_files(PACKAGE):
        rel = path.relative_to(PACKAGE)
        if rel.parts[0] == "plans":
            continue
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, FUNCS):
                out.append((str(rel), node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if not isinstance(m, FUNCS):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in m.decorator_list
                    )
                    name = node.name if m.name == "__init__" else m.name
                    out.append((str(rel), name, m, not static))
    return out


def _passed(defs) -> set[tuple[str, int, str]]:
    """(module path, def line, parameter) for every parameter that some
    call site passes."""
    by_name: dict[str, list] = {}
    for rel, name, fn, binds_self in defs:
        by_name.setdefault(name, []).append((rel, fn, binds_self))
    out = set()
    for root in CALLERS:
        for path in _py_files(root):
            tree = ast.parse(path.read_text(encoding="utf-8"))
            alias = {
                a.asname: a.name
                for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom)
                for a in n.names
                if a.asname
            }
            for call in ast.walk(tree):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                if isinstance(f, ast.Name):
                    name = alias.get(f.id, f.id)
                elif isinstance(f, ast.Attribute):
                    name = f.attr
                else:
                    continue
                for rel, fn, binds_self in by_name.get(name, ()):
                    a = fn.args
                    pos = [p.arg for p in a.posonlyargs + a.args]
                    if binds_self and (
                        isinstance(f, ast.Attribute) or fn.name == "__init__"
                    ):
                        pos = pos[1:]
                    n_pos = len(call.args)
                    if any(isinstance(x, ast.Starred) for x in call.args):
                        n_pos = len(pos)
                    kws = {k.arg for k in call.keywords}
                    if None in kws:  # f(**opts) may pass any keyword
                        kws |= set(pos) | {p.arg for p in a.kwonlyargs}
                    for p in pos[:n_pos] + sorted(kws - {None}):
                        out.add((rel, fn.lineno, p))
    return out


def test_every_option_has_a_caller_that_sets_it():
    defs = _defs()
    passed = _passed(defs)
    unset = sorted(
        f"{rel}: {fn.name}.{p}"
        for rel, _, fn, _ in defs
        for p in _defaults(fn)
        if (rel, fn.lineno, p) not in passed and f"{fn.name}.{p}" not in ALLOWED
    )
    assert not unset, (
        f"{len(unset)} default-valued parameters that no call site in the "
        "repository passes; make each a constant at its point of use:\n  "
        + "\n  ".join(unset)
    )


def test_allowlist_names_existing_options():
    have = {f"{fn.name}.{p}" for _, _, fn, _ in _defs() for p in _defaults(fn)}
    assert set(ALLOWED) <= have, sorted(set(ALLOWED) - have)

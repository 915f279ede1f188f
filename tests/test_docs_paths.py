"""Doc-path guard: every ``scripts/``, ``tests/`` or ``perfbench/`` module
that the living docs or the package's docstrings and comments name must
exist, so deleting or renaming a file fails here instead of leaving the
docs pointing at nothing.

The historical records (VERDICT.md, PLANS.md, CHANGES.md, ROADMAP.md,
``BENCH_r*.json``) describe the repository as it was and are not checked.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "multi_format_document_extractor_spark"
DOCS = (
    "README.md",
    "CLAUDE.md",
    "BENCH.md",
    "COVERAGE.md",
    ".claude/skills/verify/SKILL.md",
)
# not preceded by a path or word character, so "src/tests/x.py" in a
# reference citation is not read as this repository's tests/x.py
PATH_RE = re.compile(r"(?<![\w/.])((?:scripts|tests|perfbench)/\w+\.py)\b")


def _py_prose(path: Path) -> str:
    """The comments and docstrings of one module, joined."""
    src = path.read_text(encoding="utf-8")
    parts = [
        tok.string
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT
    ]
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            parts.append(ast.get_docstring(node) or "")
    return "\n".join(parts)


def _named_paths() -> dict[str, set[str]]:
    """Each named module path → the files that name it."""
    sources = {name: (REPO / name).read_text(encoding="utf-8") for name in DOCS}
    for path in sorted(PACKAGE.rglob("*.py")):
        sources[str(path.relative_to(REPO))] = _py_prose(path)
    named: dict[str, set[str]] = {}
    for where, text in sources.items():
        for m in PATH_RE.finditer(text):
            named.setdefault(m.group(1), set()).add(where)
    return named


def test_named_module_paths_exist():
    named = _named_paths()
    assert named, "the pattern matched nothing; the guard checks nothing"
    missing = {p: sorted(w) for p, w in named.items() if not (REPO / p).is_file()}
    assert not missing, missing

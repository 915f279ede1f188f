"""Doc-path guard: every ``scripts/``, ``tests/`` or ``perfbench/`` module
that the living docs or the package's docstrings and comments name must
exist, so deleting or renaming a file fails here instead of leaving the
docs pointing at nothing. Likewise every ``oracle.<name>`` /
``media.<name>`` the living docs or the package's docstrings and comments
name must be an attribute of that module.

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
# ``oracle.x`` / ``media.x``, but not the file names ``oracle.py`` /
# ``media.py`` nor dotted ledger rows such as ``oracle.pdf.ms_per_mb``
ATTR_RE = re.compile(r"(?<![\w/.])(oracle|media)\.(?!py\b)(\w+)(?!\.\w)")


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


def _sources() -> dict[str, str]:
    """The living docs and the package's prose, by file."""
    sources = {name: (REPO / name).read_text(encoding="utf-8") for name in DOCS}
    for path in sorted(PACKAGE.rglob("*.py")):
        sources[str(path.relative_to(REPO))] = _py_prose(path)
    return sources


def _named_paths() -> dict[str, set[str]]:
    """Each named module path → the files that name it."""
    named: dict[str, set[str]] = {}
    for where, text in _sources().items():
        for m in PATH_RE.finditer(text):
            named.setdefault(m.group(1), set()).add(where)
    return named


def test_named_module_paths_exist():
    named = _named_paths()
    assert named, "the pattern matched nothing; the guard checks nothing"
    missing = {p: sorted(w) for p, w in named.items() if not (REPO / p).is_file()}
    assert not missing, missing


def test_named_module_attributes_exist():
    from multi_format_document_extractor_spark import oracle
    from multi_format_document_extractor_spark.multimodal import media

    modules = {"oracle": oracle, "media": media}
    named = {
        (m.group(1), m.group(2), where)
        for where, text in _sources().items()
        for m in ATTR_RE.finditer(text)
    }
    assert named, "the pattern matched nothing; the guard checks nothing"
    missing = sorted(
        (f"{mod}.{attr}", where)
        for mod, attr, where in named
        if not hasattr(modules[mod], attr)
    )
    assert not missing, missing

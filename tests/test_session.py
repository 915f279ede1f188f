"""The package zip shipped to executors: its default path is named by its
sources, so drivers with different sources never overwrite each other's
zip, and its bytes depend on the sources alone. Every session the engine
builds carries ``ENGINE_CONF``, and the spark-submit entry restates none
of it."""

from __future__ import annotations

import zipfile
from pathlib import Path

from multi_format_document_extractor_spark.session import (
    ENGINE_CONF,
    _package_sources,
    _pyfiles_zip_path,
    make_pyfiles_zip,
)


def _tree(root, body: bytes) -> str:
    pkg = root / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_bytes(b"")
    (pkg / "sub" / "mod.py").write_bytes(body)
    return str(pkg)


def test_pyfiles_zip_path_follows_the_sources(tmp_path):
    def path(name: str, body: bytes) -> str:
        return _pyfiles_zip_path("pkg", _package_sources(_tree(tmp_path / name, body)))

    a = path("a", b"X = 1\n")
    assert a == path("same", b"X = 1\n")
    assert a != path("other", b"X = 2\n")
    assert a.endswith("-pyfiles.zip")


def test_pyfiles_zip_is_deterministic_and_complete(tmp_path):
    path = make_pyfiles_zip()
    assert make_pyfiles_zip() == path
    first = open(path, "rb").read()
    rebuilt = make_pyfiles_zip(str(tmp_path / "again.zip"))
    assert open(rebuilt, "rb").read() == first
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()
    assert "multi_format_document_extractor_spark/oracle.py" in names
    assert not [n for n in names if not n.endswith(".py")]


def test_get_spark_session_carries_engine_conf(spark):
    assert {k: spark.conf.get(k) for k in ENGINE_CONF} == ENGINE_CONF


def test_run_job_takes_its_sql_configs_from_engine_conf():
    """scripts/run_job.py applies ``ENGINE_CONF``; a config it restated by
    hand would drift from ``get_spark``'s."""
    repo = Path(__file__).resolve().parent.parent
    src = (repo / "scripts" / "run_job.py").read_text()
    assert '"spark.sql.' not in src
    assert "ENGINE_CONF" in src

"""Process-level side effects of the session factory and the worker
daemon: ``get_spark`` leaves this process's environment alone, the
daemon's pre-imports cannot write to the stdout that carries its port
handshake to the JVM, workers import the driver's pyspark rather than
Spark's bundled archives, and the package reads only deployment settings
from the environment."""

import ast
import glob
import os
import sys
import zipfile

import py4j
import pyspark

import tesserae_ng_spark
from tesserae_ng_spark import daemon
from tesserae_ng_spark.session import get_spark

PKG_PARENT = os.path.dirname(os.path.dirname(tesserae_ng_spark.__file__))


def test_get_spark_leaves_environment_unchanged(spark, monkeypatch):
    """No variable is added, changed or removed. The name of the removed
    allocator opt-in is assembled so that a source grep for it finds only
    code that reads it."""
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.delenv("_".join(("TNG", "MALLOC", "TUNE")), raising=False)
    before = dict(os.environ)
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    assert dict(os.environ) == before

    def where(_):
        import tesserae_ng_spark.query.sharded as mod

        yield mod.__file__

    files = s.sparkContext.parallelize([0], 1).mapPartitions(where).collect()
    assert files == [
        os.path.join(PKG_PARENT, "tesserae_ng_spark", "query", "sharded.py")
    ]


def test_preimport_prints_go_to_stderr(tmp_path, monkeypatch, capsys):
    stub = "tng_print_on_import_stub"
    (tmp_path / f"{stub}.py").write_text('print("imported the stub")\n')
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(daemon, "PREIMPORTS", (stub,))
    try:
        daemon._preimport()
        assert stub in sys.modules
    finally:
        sys.modules.pop(stub, None)
    captured = capsys.readouterr()
    assert captured.out == ""
    assert "imported the stub" in captured.err


def test_preimport_reports_missing_module_on_stderr(monkeypatch, capsys):
    missing = "tng_no_such_module_stub"
    monkeypatch.setattr(daemon, "PREIMPORTS", (missing, "json"))
    daemon._preimport()  # a missing module does not stop the others
    captured = capsys.readouterr()
    assert captured.out == ""
    assert missing in captured.err
    assert "ModuleNotFoundError" in captured.err


def test_workers_import_the_drivers_pyspark(spark):
    """Worker tasks run the driver's installed pyspark and py4j, so the
    ``importlib.invalidate_caches()`` every task makes finds no
    ``zipimporter`` to re-read."""

    def where(_):
        import importlib
        import zipimport

        import py4j
        import pyspark

        importlib.invalidate_caches()
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pyspark.__file__, py4j.__file__, zips

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()
    assert got == [(pyspark.__file__, py4j.__file__, 0)]


def _spark_layout(tmp_path, installed_pyspark_version):
    """Stub archives as Spark lays them out, and an installed copy of
    pyspark and py4j (pyspark's version.py as given) in ``site``."""
    lib, jars, site = (tmp_path / d for d in ("lib", "jars", "site"))
    for d in (lib, jars, site):
        d.mkdir()
    bundled = {
        lib / "pyspark.zip": {
            "pyspark/__init__.py": "",
            "pyspark/version.py": "__version__ = '4.1.2'\n",
        },
        lib / "py4j-0.10.9.9-src.zip": {
            "py4j/__init__.py": "",
            "py4j/version.py": "__version__ = '0.10.9.9'\n",
        },
        jars / "spark-core_2.13-4.1.2.jar": {"org/apache/spark/Stub.class": ""},
    }
    for archive, members in bundled.items():
        with zipfile.ZipFile(archive, "w") as z:
            for name, text in members.items():
                z.writestr(name, text)
    if installed_pyspark_version is not None:
        for pkg, version in (
            ("pyspark", installed_pyspark_version),
            ("py4j", "0.10.9.9"),
        ):
            (site / pkg).mkdir()
            (site / pkg / "__init__.py").write_text("")
            (site / pkg / "version.py").write_text(f"__version__ = '{version}'\n")
    return [str(a) for a in bundled], str(site)


def _run_drop(monkeypatch, path):
    """``daemon._drop_spark_archives`` on ``path`` with a fresh importer
    cache; returns the resulting (sys.path, sys.path_importer_cache)."""
    import zipimport

    cache = {
        e: zipimport.zipimporter(e) for e in path if zipfile.is_zipfile(e)
    }
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    daemon._drop_spark_archives()
    return list(sys.path), dict(sys.path_importer_cache)


def test_drop_spark_archives_when_versions_match(tmp_path, monkeypatch, capsys):
    archives, site = _spark_layout(tmp_path, "4.1.2")
    path, cache = _run_drop(monkeypatch, [str(tmp_path), *archives, site])
    assert path == [str(tmp_path), site]
    assert not set(archives) & set(cache)
    assert capsys.readouterr() == ("", "")


def test_keep_spark_archives_on_version_mismatch(tmp_path, monkeypatch, capsys):
    archives, site = _spark_layout(tmp_path, "4.0.0")
    path, cache = _run_drop(monkeypatch, [*archives, site])
    assert path == [*archives, site]
    assert set(archives) <= set(cache)
    captured = capsys.readouterr()
    assert captured.out == ""
    assert len(captured.err.splitlines()) == 1
    assert os.path.join(site, "pyspark", "version.py") in captured.err
    assert "differs" in captured.err


def test_keep_spark_archives_without_installed_pyspark(
    tmp_path, monkeypatch, capsys
):
    archives, site = _spark_layout(tmp_path, None)
    path, _ = _run_drop(monkeypatch, [*archives, site])
    assert path == [*archives, site]
    captured = capsys.readouterr()
    assert captured.out == ""
    assert len(captured.err.splitlines()) == 1
    assert "no pyspark package" in captured.err


def test_warm_jvm_failure_is_named_on_stderr(monkeypatch, capsys):
    """A failing warm-up query does not fail the session; the error is
    named on stderr. Errors that are not Spark's propagate."""
    import pytest
    from py4j.protocol import Py4JError

    from tesserae_ng_spark import session

    class Stub:
        def __init__(self, err):
            self.err = err

        def range(self, n):
            raise self.err

    monkeypatch.setattr(session, "_JVM_WARMED", False)
    session._warm_jvm(Stub(Py4JError("gateway gone")))
    captured = capsys.readouterr()
    assert captured.out == ""
    assert "Py4JError" in captured.err and "gateway gone" in captured.err

    monkeypatch.setattr(session, "_JVM_WARMED", False)
    with pytest.raises(ZeroDivisionError):
        session._warm_jvm(Stub(ZeroDivisionError("not spark's")))


# deployment settings (session): the only environment the
# package may read. Engine behaviour is set by arguments.
ENV_ALLOWLIST = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads(tree: ast.AST, where: str) -> set[str]:
    """Names read via os.environ.get/setdefault(...), os.environ[...] and
    os.getenv(...); a non-literal name is reported as itself so it cannot
    slip past the allowlist."""
    keys = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr in ("get", "setdefault") and _is_environ(f.value)) or (
                f.attr == "getenv"
            ):
                keys.append(node.args[0] if node.args else None)
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.append(node.slice)
    return {
        k.value
        if isinstance(k, ast.Constant) and isinstance(k.value, str)
        else f"<non-literal at {where}:{getattr(k, 'lineno', '?')}>"
        for k in keys
    }


def test_package_env_reads_are_allowlisted():
    pkg = os.path.dirname(tesserae_ng_spark.__file__)
    found = set()
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            found |= _env_reads(ast.parse(f.read()), os.path.relpath(path, pkg))
    assert found == ENV_ALLOWLIST

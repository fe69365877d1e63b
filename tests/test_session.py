"""Process-level side effects of the session factory and the worker
daemon: ``get_spark`` leaves this process's environment alone, and the
daemon's pre-imports cannot write to the stdout that carries its port
handshake to the JVM."""

import os
import sys

import tesserae_ng_spark
from tesserae_ng_spark import daemon
from tesserae_ng_spark.session import get_spark

PKG_PARENT = os.path.dirname(os.path.dirname(tesserae_ng_spark.__file__))


def test_get_spark_leaves_pythonpath_unset(spark, monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    assert "PYTHONPATH" not in os.environ

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

"""Pre-importing PySpark worker daemon (guide §4.5: heavyweight init once,
amortized — applied to the *interpreter state* itself).

PySpark's daemon forks one child per task worker; forked children inherit
every module already imported by the parent via copy-on-write. The stock
``pyspark.daemon`` imports almost nothing, so EVERY fresh worker pays the
full import chain on its first task (measured here: ~0.25 s pyspark.worker
+ ~0.4 s pyarrow/pandas/numpy + ~0.05 s this package — ~0.7 s per worker,
and a 32-worker cold wave repeats it 32×). This drop-in daemon module
(``spark.python.daemon.module``) performs those imports ONCE in the daemon
before the first fork, so workers start with a warm interpreter.

Failure posture: a pre-import that raises ``ImportError`` must not kill
the daemon (worker-side imports would then fail with their own, clearer
error), but it is not silent either: the module name and the error go to
stderr. Any other exception propagates. The daemon protocol itself is
delegated verbatim to ``pyspark.daemon.manager``.
"""

from __future__ import annotations

import contextlib
import sys

PREIMPORTS = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.dataset",
    "pyarrow.compute",
    "pyspark.serializers",
    "pyspark.worker",
    "tesserae_ng_spark.functions.analysis",
    "tesserae_ng_spark.index.codec",
    "tesserae_ng_spark.index.encode",
    "tesserae_ng_spark.query.search",
    "tesserae_ng_spark.query.sharded",
)


def _preimport() -> None:
    # the JVM reads the daemon's listening port from its stdout, so an
    # import-time print must not land there before manager() writes it
    with contextlib.redirect_stdout(sys.stderr):
        for mod in PREIMPORTS:
            try:
                __import__(mod)
            except ImportError as e:
                print(f"daemon pre-import of {mod} failed: {e!r}",
                      file=sys.stderr)


if __name__ == "__main__":
    _preimport()
    from pyspark.daemon import manager

    manager()

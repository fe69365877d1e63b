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

Before it pre-imports, the daemon takes Spark's bundled archives off
``sys.path``: ``pyspark.zip``, ``py4j-*-src.zip`` and the
``spark-core_*.jar``, which Spark's ``PythonUtils.sparkPythonPath`` puts
ahead of the workers' own path. Every task on a reused worker runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; on CPython 3.11 that re-reads, in pure
Python, the central directory of every ``zipimporter`` in
``sys.path_importer_cache`` — 16 of them once pyspark is imported from
the zip (one per package directory of its 1,328 files, plus the py4j zip
and the 5,359-entry jar). Measured in a worker on a 4-core host: 230-280
ms per call from the archives, 0.06-0.08 ms with pyspark imported from an
installed package directory; a warm no-op 4-task job took 0.32-0.64 s
with the archives and 0.15-0.22 s without. ``pyspark.zip`` also holds no
``.pyc``, so every daemon start compiled each pre-imported pyspark module
from source: a session's first Python job took 1.8-2.7 s with the
archives and 1.0-1.15 s without.
The archives are dropped only when ``pyspark`` and ``py4j`` import from
the rest of the path and their ``version.py`` files are byte-equal to
the archives' copies, i.e. the workers then run the pyspark the driver
runs against this JVM. Otherwise the path stays as Spark set it and one
stderr line says why.

Failure posture: a pre-import that raises ``ImportError`` must not kill
the daemon (worker-side imports would then fail with their own, clearer
error), but it is not silent either: the module name and the error go to
stderr. Any other exception propagates. Nothing is written to stdout,
which carries the daemon's port to the JVM. The daemon protocol itself is
delegated verbatim to ``pyspark.daemon.manager``.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

# basename on sys.path -> the package inside it whose version.py must
# match the installed copy (None: no Python package, the jar is dropped
# along with the two zips)
SPARK_ARCHIVES = (
    (re.compile(r"pyspark\.zip"), "pyspark"),
    (re.compile(r"py4j-.*-src\.zip"), "py4j"),
    (re.compile(r"spark-core_.*\.jar"), None),
)

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


def _archive_mismatch(pkg: str, archive: str, path: list[str]) -> str | None:
    """Why ``pkg`` on ``path`` is not the copy bundled in ``archive``, or
    None when its version.py is byte-equal to the archive's."""
    spec = PathFinder.find_spec(pkg, path)
    if spec is None or spec.origin is None:
        return f"no {pkg} package on sys.path outside {archive}"
    installed = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        with open(installed, "rb") as f:
            mine = f.read()
        with zipfile.ZipFile(archive) as z:
            bundled = z.read(f"{pkg}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile) as e:
        return f"cannot compare {pkg}/version.py: {e!r}"
    if mine != bundled:
        return f"{installed} differs from {pkg}/version.py in {archive}"
    return None


def _drop_spark_archives() -> None:
    """Take Spark's bundled archives off ``sys.path`` (and their importers
    out of ``sys.path_importer_cache``) when the rest of the path imports
    the same pyspark and py4j; otherwise keep them and say why on stderr.
    Runs before anything imports pyspark."""
    archives = {
        entry: pkg
        for entry in sys.path
        for pattern, pkg in SPARK_ARCHIVES
        if pattern.fullmatch(os.path.basename(entry)) and os.path.isfile(entry)
    }
    if not archives:
        return
    rest = [entry for entry in sys.path if entry not in archives]
    for archive, pkg in archives.items():
        why = pkg is not None and _archive_mismatch(pkg, archive, rest)
        if why:
            print(
                f"tesserae_ng_spark.daemon: workers import from Spark's "
                f"archives and re-read them on every task: {why}",
                file=sys.stderr,
            )
            return
    sys.path[:] = rest
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_spark_archives()
    _preimport()
    from pyspark.daemon import manager

    manager()

"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import sys

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tesserae_ng_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match local cores, not the 200 default — avoids tiny-partition
        # overhead at sandbox scale; on a real cluster AQE coalescing takes
        # over anyway.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8g default (was 24g): on hosts that overcommit guest RAM, an
        # oversized G1 heap's commit/uncommit cycling puts the BOX into
        # fault-stall windows (measured: post-build shrink of a 24g heap
        # → 20-100× slower page faults box-wide for ~40 s, sporadically
        # collapsing query phases; BENCH/BASELINE.md round-6 A/B). Size
        # the heap to the work — SPARK_DRIVER_MEM overrides.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # SPARK_GRAFT_LOCAL_DIR: shuffle/spill scratch location. Round-6 note:
    # this sandbox's block device sustains ~6 MB/s writes (measured,
    # BENCH/BASELINE.md "host disk" section) — two orders of magnitude
    # below round-5's host — so benchmarks route scratch + index dirs to
    # tmpfs to keep measuring the ENGINE rather than a throttled virtio
    # disk. Production writes go to object storage whose bandwidth scales
    # with the cluster.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    # pre-importing worker daemon (daemon.py; guide §4.5): forked python
    # workers inherit numpy/pyarrow/pandas/engine imports from the daemon
    # instead of each paying ~0.7 s on first task, and import the driver's
    # installed pyspark instead of Spark's bundled zip and jar, whose
    # importers every task re-read (a warm no-op 4-task job: 0.3-0.6 s
    # with them, 0.15-0.22 s without; 4-core host).
    # Local mode only; cluster deployments keep the stock daemon unless
    # they ship the package and opt in themselves. extra_conf is applied
    # last, so {"spark.python.daemon.module": "pyspark.daemon"} selects
    # the stock daemon. The package's parent reaches the daemon (so
    # `python -m tesserae_ng_spark.daemon` resolves) through
    # spark.executorEnv, which Spark merges into its python workers'
    # PYTHONPATH — this process's own environment stays untouched.
    if master.startswith("local"):
        pkg_parent = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        b = b.config("spark.executorEnv.PYTHONPATH", pkg_parent).config(
            "spark.python.daemon.module", "tesserae_ng_spark.daemon"
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_jvm(spark)
    return spark


_JVM_WARMED = False


def _warm_jvm(spark) -> None:
    """One-time JVM warm-up at session open (r7, guide §7.3 diagnosis).

    Driver thread dumps showed the FIRST collation-aware string expression
    in a JVM blocking every scan task on the CollationAwareUTF8String
    class-initialization monitor while ICU loads its case-map tables from
    the jar (seconds on a cold page cache with this sandbox's ~6 MB/s
    disk), and the first few whole-stage-codegen stages compiling janino
    cold (C2 itself still compiling the compiler). Both are per-JVM
    one-time costs that otherwise land inside whichever query happens to
    run first. One tiny query at session open (computes nothing from any
    input, caches nothing) moves them to initialization, where they
    belong. Skipped on subsequent sessions in the same JVM."""
    global _JVM_WARMED
    if _JVM_WARMED:
        return
    _JVM_WARMED = True
    try:
        (
            spark.range(2)
            .selectExpr(
                "id", "lower('Éa') || upper('éA') || initcap('é b') AS s"
            )
            .groupBy("s")
            .count()
            .orderBy("count")
            .limit(1)
            .collect()
        )
    except (Py4JError, PySparkException) as e:
        # warm-up is best-effort, never session-fatal; the cost it moves
        # then lands in the first real query, so say so
        print(
            f"tesserae_ng_spark: JVM warm-up query failed, first query "
            f"pays the warm-up: {type(e).__name__}: {e}",
            file=sys.stderr,
        )

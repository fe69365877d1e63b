"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``tesserae_ng_spark/operators/`` (one module per
operator family, SURVEY.md §2); this file is only the contract shim.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exhaustive BM25 top-20 over sf0.001 documents."""
    from tesserae_ng_spark.operators import load_all

    registry = load_all()
    fn, _ = registry["bm25_exhaustive"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 keys covering every SURVEY.md §2 operator (the driver
    records at most 50 entries; same-shape operators share a key via
    tagged/multi-column outputs — the consolidation map is SURVEY.md §2
    "Driver key map"). Flagship/engine keys lead the canonical order."""
    from tesserae_ng_spark.operators import load_all

    return {k: fn for k, (fn, _) in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per key (omitted → rows-only driver check)."""
    from tesserae_ng_spark.operators import load_all

    return {k: sql for k, (_, sql) in load_all().items() if sql is not None}

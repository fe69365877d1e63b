"""The engine operators' cached check index rebuilds unless its stats.json
names the current postings format."""

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from tesserae_ng_spark.schemas import POSTINGS_FORMAT, POSTINGS_SCHEMA


def test_ensure_es_index_rebuilds_stale_cache(monkeypatch, tmp_path):
    """A cached index whose stats.json has no ``postings_format`` (or is
    unreadable) is rebuilt even when its postings look complete; a cache
    naming the current format is returned as it is."""
    from tesserae_ng_spark.index import builder
    from tesserae_ng_spark.operators import engine_ops
    from tesserae_ng_spark.sources import corpus as corpus_mod

    sf_dir = str(tmp_path / f"sf_stale_{os.getpid()}")
    out = f"/tmp/tesserae_idx_{engine_ops.LANG}_{os.path.basename(sf_dir)}"
    builds = []

    def fake_build(spark, corpus, out_dir, **kw):
        builds.append(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/stats.json", "w") as f:
            json.dump({"postings_format": POSTINGS_FORMAT}, f)

    monkeypatch.setattr(builder, "build_index", fake_build)
    monkeypatch.setattr(corpus_mod, "synthesize_corpus", lambda spark, sf: None)
    shutil.rmtree(out, ignore_errors=True)
    try:
        for stale_stats in ('{"n_docs": 1}', "{not json"):
            # an older index: full postings schema, stats without a format
            os.makedirs(f"{out}/postings/bucket=0")
            pq.write_table(
                to_arrow_schema(POSTINGS_SCHEMA).empty_table(),
                f"{out}/postings/bucket=0/part-00000.parquet",
            )
            with open(f"{out}/stats.json", "w") as f:
                f.write(stale_stats)
            builds.clear()
            assert engine_ops.ensure_es_index(None, sf_dir) == out
            assert builds == [out]
            assert not os.path.exists(f"{out}/postings"), "stale cache kept"

            builds.clear()
            assert engine_ops.ensure_es_index(None, sf_dir) == out
            assert builds == []
            shutil.rmtree(out)
    finally:
        shutil.rmtree(out, ignore_errors=True)

"""Engine-path operator keys: the compressed index + WAND, driver-checked.

The trick that makes the PHYSICAL engine SQL-checkable: build the check
index over the ``lang = 'es'`` slice of the corpus. The analyzer stems only
``en`` (identity elsewhere), so engine tokens == plain SQL tokenization and
DuckDB can replay postings (decode roundtrip), dictionary df, and full BM25
WAND top-k over the SAME rows — an end-to-end oracle on codec + salted
merge + block-max WAND, not just on the logical plan.

The index is built once per sf dir into /tmp (manifest-resume makes reruns
cheap; a cached index whose stats.json names another postings format is
rebuilt); engine doc_ids (xxhash64(url)) map back to documents.doc_id by
parsing the url tail — both engines can compute that.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesserae_ng_spark.operators import register

LANG = "es"

TOKS_ES_CTE = f"""
toks AS (
  SELECT doc_id, term,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS BIGINT) AS pos
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
           generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS ord
    FROM documents WHERE lang = '{LANG}'
  ) WHERE term <> ''
)"""


def _postings_format(index_dir: str):
    """stats.json's ``postings_format``, or None when stats.json is
    missing, unreadable or names none."""
    try:
        with open(f"{index_dir}/stats.json") as f:
            stats = json.load(f)
    except (OSError, ValueError):
        return None
    return stats.get("postings_format") if isinstance(stats, dict) else None


def ensure_es_index(spark, sf_dir: str) -> str:
    from tesserae_ng_spark.index.builder import build_index
    from tesserae_ng_spark.schemas import POSTINGS_FORMAT
    from tesserae_ng_spark.sources.corpus import synthesize_corpus

    out = f"/tmp/tesserae_idx_{LANG}_{os.path.basename(os.path.normpath(sf_dir))}"
    # format gate: stats.json is written last, so a cache naming the
    # current postings format is a finished index in this layout; any
    # other cache (older format, no stats.json, unreadable) rebuilds
    if _postings_format(out) == POSTINGS_FORMAT:
        return out
    shutil.rmtree(out, ignore_errors=True)
    corpus = synthesize_corpus(spark, sf_dir)
    build_index(
        spark,
        corpus,
        out,
        n_parts=2,
        lang=LANG,
        target_postings_per_salt=32,  # force the salted merge path
        block_size=16,  # force multi-block terms
        n_buckets=4,
    )
    return out


def _docs_with_orig_id(spark, index_dir: str):
    return spark.read.parquet(f"{index_dir}/shards/docs").select(
        "doc_id",
        F.regexp_extract("url", r"(\d{8})$", 1).cast("long").alias("orig_id"),
    )


@register(
    "block_encode",
    f"""WITH {TOKS_ES_CTE}
       SELECT doc_id AS orig_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY doc_id, term""",
)
def block_encode(spark, sf):
    """Decode the FINAL compressed blocks back to (doc, term, tf) and let
    DuckDB confirm the roundtrip — codec + shard encode + salted merge are
    all on the hook for every posting. Blocks store doc ordinals, so they
    map through the index's doc list to doc_ids before the join."""
    from tesserae_ng_spark.index.manifest import sorted_doc_ids

    idx = ensure_es_index(spark, sf)
    posts = spark.read.parquet(f"{idx}/postings")
    doc_list = sorted_doc_ids(idx)

    out_schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("tf", T.LongType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tesserae_ng_spark.index.codec import concat_decode_ords, varint_decode

        for pdf in batches:
            terms, docs, tfs = [], [], []
            for r in pdf.itertuples(index=False):
                ids = doc_list[concat_decode_ords([r.doc_ids], [r.n_docs])]
                tf = varint_decode(r.tfs)
                terms.extend([r.term] * len(ids))
                docs.extend(ids.tolist())
                tfs.extend(int(x) for x in tf)
            yield pd.DataFrame({"term": terms, "doc_id": docs, "tf": tfs})

    decoded = posts.mapInPandas(decode, out_schema)
    return decoded.join(_docs_with_orig_id(spark, idx), "doc_id").select(
        "orig_id", "term", "tf"
    )


@register(
    "external_merge",
    f"""WITH {TOKS_ES_CTE}
       SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       FROM toks GROUP BY term""",
)
def external_merge(spark, sf):
    """Post-merge dictionary df == SQL distinct-doc count per term: shards
    partition docs disjointly and the merge dedupes nothing — exactness of
    the metadata-only df computation is the invariant."""
    idx = ensure_es_index(spark, sf)
    return spark.read.parquet(f"{idx}/dictionary").select("term", "df")


@register("salted_repartition_sort", None)  # physical layout → rows-only
def salted_repartition_sort(spark, sf):
    """Expose the salted block layout: per (term, salt) block counts and doc
    ranges. ``lo``/``hi`` are doc ordinals (ranks into the index's sorted
    doc list); the rank is monotone in doc_id, so a term's salt ranges are
    still disjoint and ascending in salt order, and blocks internally
    sorted. The key has no SQL oracle: only its rows' shape is checked."""
    idx = ensure_es_index(spark, sf)
    return (
        spark.read.parquet(f"{idx}/postings")
        .groupBy("term", "salt")
        .agg(
            F.count("*").alias("n_blocks"),
            F.min("block_first_doc").alias("lo"),
            F.max("block_last_doc").alias("hi"),
            F.sum("n_docs").alias("postings"),
        )
    )


@register(
    "blockmax_wand",
    f"""WITH {TOKS_ES_CTE},
       n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id) AS avg_dl
             FROM toks),
       dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
       tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks
              WHERE term IN ('join', 'hash', 'scan') GROUP BY term, doc_id),
       df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       scores AS (
         SELECT tf.doc_id AS doc_id,
                sum(ln(1 + (n.n_docs - df.df + 0.5) / (df.df + 0.5))
                    * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / n.avg_dl))) AS score
         FROM tf JOIN df ON tf.term = df.term
                 JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
         GROUP BY tf.doc_id)
       SELECT doc_id AS orig_id, ROUND(score, 6) AS score FROM scores""",
)
def blockmax_wand(spark, sf):
    """THE engine query path — block-max WAND over the compressed index —
    hash-checked against exhaustive SQL BM25 over every matching doc
    (k = ∞ so rank/tie-break representation can't mask a score mismatch;
    bounded-k pruning correctness is property-tested in tests/test_wand.py)."""
    from tesserae_ng_spark.query.search import Searcher

    idx = ensure_es_index(spark, sf)
    searcher = Searcher(idx, lang=LANG)
    hits = searcher.search("join hash scan", k=1_000_000)
    id_map = dict(
        _docs_with_orig_id(spark, idx)
        .select("doc_id", "orig_id")
        .collect()
    )
    rows = [(id_map[h.doc_id], round(h.score, 6)) for h in hits]
    return spark.createDataFrame(rows, "orig_id long, score double")


@register("streaming_incremental", None)  # streaming lineage → rows-only
def streaming_incremental(spark, sf):
    """Incremental (Structured Streaming) ingest: stage the corpus as files,
    run the availableNow foreachBatch build, return per-batch manifests.
    Exercises readStream → idempotent shard build → lineage end-to-end."""
    import tempfile

    from tesserae_ng_spark.index.manifest import all_manifests
    from tesserae_ng_spark.sources.corpus import synthesize_corpus
    from tesserae_ng_spark.streaming.incremental import incremental_index_stream

    base = tempfile.mkdtemp(prefix="tng_stream_")
    src, out, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    synthesize_corpus(spark, sf).repartition(4).write.parquet(src)
    q = incremental_index_stream(spark, src, out, ckpt, max_files_per_trigger=2)
    q.awaitTermination(300)
    rows = [
        (m["partition_id"], m["status"], m.get("row_count", 0))
        for m in all_manifests(out)
        if m.get("stage") != "merge"
    ]
    return spark.createDataFrame(
        sorted(rows), "partition_id int, status string, row_count long"
    )


@register("checkpoint_resume", None)  # lineage metadata → rows-only
def checkpoint_resume(spark, sf):
    from tesserae_ng_spark.index.manifest import all_manifests

    idx = ensure_es_index(spark, sf)
    rows = [
        (m["partition_id"], m["status"], m.get("row_count", 0),
         m.get("term_count", 0), m.get("block_count", 0))
        for m in all_manifests(idx)
        if m.get("stage") != "merge"
    ]
    return spark.createDataFrame(
        rows, "partition_id int, status string, row_count long, term_count long, block_count long"
    )

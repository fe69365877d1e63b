"""Index build: corpus → docs / term-doc postings / stats.

This is the logical plan shared by BOTH the oracle path (uncompressed
term-doc DataFrame + pure-DataFrame BM25; SURVEY.md §7 M1 — kept forever)
and the engine path (block-compressed postings, index/encode.py).

Pipeline (SURVEY.md §3.1), every stage a DataFrame with a declared schema:

  scan (pruned/pushed-down) → as-of latest-crawl dedupe → html_extract UDF
  → doc_terms UDF (tokenize+stem AND per-term tf/position aggregation,
  document-at-a-time — the Lucene term-vector shape) → explode
  → (doc_id, term, tf, positions, dl)

Scale notes (100 TB):
- Aggregating tf/positions inside the Arrow UDF removes the token-level
  groupBy entirely: nothing token-granular ever crosses a shuffle. The
  only wide exchange left in stage A is the per-term grouping feeding the
  block encoder (and it moves pre-aggregated postings, ~10× smaller).
- doc_id = xxhash64(url): stable, coordination-free, uniformly distributed
  → the doc-range salting downstream is balanced by construction.
- The as-of dedupe is a window over url; urls are near-unique so there is
  no skew, and AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tesserae_ng_spark.functions.analysis import (
    doc_vector_from_html_udf,
    doc_vector_udf,
)

# Optimizer hint, not semantics (both functions are pure/deterministic —
# rank-identity depends on it): asNondeterministic() stops CollapseProject
# from DUPLICATING the Arrow UDF evaluation when later projections extract
# several fields from the UDF output struct. Without it the analyzer chain
# runs once per extracted field.
_doc_vector = doc_vector_udf.asNondeterministic()
# fused html→vector UDF: extracted text never crosses the Arrow boundary
# (halves per-doc Arrow bytes vs chaining html_extract + doc_vector)
_doc_vector_html = doc_vector_from_html_udf.asNondeterministic()


def asof_latest(corpus: DataFrame) -> DataFrame:
    """Latest-wins dedupe per url (as-of semantics on warc_ts).

    Spark has no native as-of join; the idiom is a ranking window with a
    deterministic tie-break (SURVEY.md §2.3 `asof_latest_crawl`).
    """
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def prepare_docs(
    corpus: DataFrame,
    lang: str | None = None,
    use_stored_text: bool = False,
) -> DataFrame:
    """corpus → (doc_id, url, lang, terms, tfs, offs, lens, pos, dl):
    flat per-doc term vectors (primitive arrays + one varint position
    stream — cheap across the Arrow boundary; see functions/analysis.py).

    ``lang`` filter is applied FIRST so Catalyst pushes it into the scan
    (partition pruning on Iceberg, row-group skip on parquet).
    ``use_stored_text=False`` runs the real extractor (production path);
    True trusts the stored text column (used to cross-check byte-identity).
    dl (exact token count) = Σ tf, computed JVM-side over the terms array.
    """
    df = corpus
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    # explicit url repartition: (a) satisfies the as-of window's hash
    # distribution (no second exchange), (b) a USER-specified partition
    # count is exempt from AQE coalescing — vital because the downstream
    # UDF chain is CPU-per-row heavy, and AQE's byte-based coalescing would
    # otherwise serialize 80 MB of html onto 1-2 Python workers.
    n_parts = df.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(n_parts, "url")
    df = asof_latest(df)
    dv = (
        _doc_vector(F.col("text"), F.col("lang"))
        if use_stored_text
        else _doc_vector_html(F.col("html"), F.col("lang"))
    )
    df = df.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        "lang",
        dv.alias("dv"),
    )
    return df.select(
        "doc_id", "url", "lang",
        F.col("dv.terms").alias("terms"),
        F.col("dv.tfs").alias("tfs"),
        F.col("dv.offs").alias("offs"),
        F.col("dv.lens").alias("lens"),
        F.col("dv.pos").alias("pos"),
        F.col("dv.dl").alias("dl"),
    )


def docs_table(prepared: DataFrame) -> DataFrame:
    """(doc_id, url, lang, dl). dl = exact token count (no quantization)."""
    return prepared.select("doc_id", "url", "lang", "dl")


def term_doc_table(prepared: DataFrame) -> DataFrame:
    """Uncompressed positional postings: (term, doc_id, tf, positions, dl)
    with ``positions`` as the ENGINE's varint byte slice (abs-first +
    gaps; index/codec.py stream layout).

    A narrow explode of the per-doc term vectors — no shuffle, and the
    position slicing is a JVM binary substring: zero Python per posting.
    """
    z = prepared.select(
        "doc_id", "dl", "pos",
        F.posexplode(F.arrays_zip("terms", "tfs", "offs", "lens")).alias("i", "z"),
    )
    return z.select(
        F.col("z.terms").alias("term"),
        "doc_id",
        F.col("z.tfs").alias("tf"),
        F.expr("substring(pos, z.offs + 1, z.lens)").alias("positions"),
        "dl",
    )


def term_doc_decoded(prepared: DataFrame) -> DataFrame:
    """(term, doc_id, tf, positions array<int>, dl) — oracle/test shape:
    positions decoded from the engine byte slices (Arrow-batched)."""
    import pandas as pd
    from pyspark.sql import types as T

    from tesserae_ng_spark.index.codec import varint_decode

    def _decode_series(buf):
        import numpy as np

        def dec(b):
            d = varint_decode(bytes(b)).astype("int64")
            return np.cumsum(d).astype("int32").tolist()

        return buf.map(dec)

    _decode = F.pandas_udf(_decode_series, T.ArrayType(T.IntegerType()))

    td = term_doc_table(prepared)
    return td.withColumn("positions", _decode("positions"))


def tokens_stream(prepared: DataFrame) -> DataFrame:
    """(doc_id, term, pos) token-occurrence stream (diagnostics/oracles)."""
    td = term_doc_decoded(prepared)
    return td.select(
        "doc_id", "term", F.explode("positions").alias("pos")
    )


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Single-row (n_docs, avg_dl, total_tokens); broadcast at query time."""
    return docs.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).cast("double").alias("avg_dl"),
        F.sum("dl").alias("total_tokens"),
    )

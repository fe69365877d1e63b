"""Fixed StructType schemas for every engine artifact (SURVEY.md §1.2).

The reference (tesserae-ng) declares a fixed Solr ``schema.xml``; we mirror
that philosophy with one module of declared Spark schemas. Every stage of
the build/query pipeline passes DataFrames whose schema is one of these.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style web-page table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),  # golden extracted text
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Engine-owned derived tables
# ---------------------------------------------------------------------------

# docs: one row per (deduped) document. doc_id = xxhash64(url) — stable,
# coordination-free, reproducible across parallelism levels (rank-identity
# requires deterministic ids; SURVEY.md §1.2).
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("dl", T.IntegerType(), False),  # token count (exact, no quantization)
    ]
)

# token stream after analysis: one row per token occurrence.
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),
    ]
)

# term/doc aggregate (uncompressed postings; the permanent oracle path).
TERM_DOC_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
    ]
)

# Compressed postings blocks (Lucene block-postings analog, 128 docs/block;
# delta+varint doc ordinals, varint tfs, varint dls, delta+varint
# positions). Postings format 3: ``doc_ids``, ``block_first_doc`` and
# ``block_last_doc`` hold doc ORDINALS — a doc's rank in the index's sorted,
# unique doc_id list (``shards/docs``) — not doc_ids. The rank is monotone
# in doc_id, so every doc-order rule below holds in either space. Blocks for
# one term are ordered by (salt, block_id); salts are doc-range buckets so
# concatenation in salt order preserves global doc order.
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("block_first_doc", T.LongType(), False),
        T.StructField("block_last_doc", T.LongType(), False),
        T.StructField("block_max_score", T.DoubleType(), False),
        # stats-FREE bound ingredients: max tf and min dl over the block's
        # postings. BM25's tf-part is monotone ↑ in tf and ↓ in dl, so
        # idf(df)·f(max_tf, min_dl) is a true per-block upper bound under
        # ANY (n_docs, avg_dl, df), so the block-max scorer (query/wand.py)
        # uses it under local and sharded/global IDF alike; the stored
        # block_max_score holds only under merge-time shard-local stats.
        T.StructField("block_max_tf", T.IntegerType(), False),
        T.StructField("block_min_dl", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), True),
    ]
)

# stats.json's ``postings_format``: readers refuse any other value, so an
# index written in an older layout is rebuilt, never misdecoded
POSTINGS_FORMAT = 3

DICTIONARY_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),  # document frequency
        T.StructField("cf", T.LongType(), False),  # collection frequency
        T.StructField("max_score", T.DoubleType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),  # postings partition
    ]
)

CORPUS_STATS_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("avg_dl", T.DoubleType(), False),
        T.StructField("total_tokens", T.LongType(), False),
    ]
)

# Query fixtures (FIXTURES.md §2)
QUERIES_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("query_text", T.StringType(), False),
        T.StructField("mode", T.StringType(), False),  # bm25 | phrase | proximity
        T.StructField("k", T.IntegerType(), False),
    ]
)

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# BM25 parameters (Lucene defaults; BASELINE.json north_star pins BM25).
BM25_K1 = 1.2
BM25_B = 0.75
BLOCK_SIZE = 128  # docs per postings block (Lucene block size)

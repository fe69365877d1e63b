"""Incremental index builds over a corpus stream (SURVEY.md §2.10).

The reference ingests via batch HTTP POSTs to Solr (no streaming
semantics); the engine analog is an incremental build: new corpus files
arrive → each micro-batch runs the build's one stage-A pass
(index/builder.py ``_stage_a``) with a single key, becoming one more
index part with its own lineage manifest → the salted merge (stage B)
runs on demand to refresh the queryable index, exactly like a Lucene
segment merge after a commit.

Structured Streaming specifics:
- file source (``readStream``) with ``maxFilesPerTrigger`` batching;
  checkpointLocation gives exactly-once batch ids, and the per-batch
  manifest makes the shard write idempotent on replay (batch id = shard
  partition id + a reserved offset).
- watermarking is NOT needed: the as-of latest-crawl dedupe is an index-
  wide rule, enforced at merge/query time across shards (late re-crawls
  land in later shards; `asof_latest` semantics then pick the newest
  warc_ts; see merge note below).

Late-data note: duplicate urls ACROSS shards are possible in streaming
mode (the batch build partitions by url so they are not). The merge keeps
both postings; rank-identity workloads either dedupe upstream or run
compaction (rebuild affected partitions) — documented trade-off, same as
Lucene soft-deletes vs merge-time purge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tesserae_ng_spark.index.builder import _stage_a
from tesserae_ng_spark.schemas import BLOCK_SIZE, CORPUS_SCHEMA

STREAM_PART_BASE = 10_000  # shard ids for streamed batches live above this


def _process_batch(batch_df: DataFrame, batch_id: int, out_dir: str,
                   lang: str | None, block_size: int) -> None:
    # one key: the whole micro-batch becomes part STREAM_PART_BASE + id;
    # a replayed batch (checkpoint recovery) finds its manifest done and
    # is skipped → idempotent
    _stage_a(
        batch_df,
        {0: (out_dir, STREAM_PART_BASE + int(batch_id))},
        {0: f"stream-batch={batch_id}"},
        lang=lang, use_stored_text=False, with_positions=True,
        block_size=block_size,
    )


def incremental_index_stream(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    lang: str | None = None,
    max_files_per_trigger: int = 4,
    block_size: int = BLOCK_SIZE,
):
    """Start the incremental build stream; returns the StreamingQuery.

    Callers refresh the queryable index by running stage B over its one
    dir (``index.builder._merge_all(spark, [out_dir], ...)``) after any
    number of committed batches.
    """
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: _process_batch(df, bid, out_dir, lang, block_size)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

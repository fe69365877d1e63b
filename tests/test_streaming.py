"""Incremental (streaming) index build test (SURVEY.md §2.10)."""

import glob
import json

from pyspark.sql import functions as F

from tesserae_ng_spark.index.builder import _merge_all
from tesserae_ng_spark.index.manifest import all_manifests
from tesserae_ng_spark.query.search import Searcher
from tesserae_ng_spark.streaming.incremental import incremental_index_stream


def test_incremental_stream_builds_queryable_index(spark, corpus, tmp_path):
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    # stage the corpus as N parquet files, as if crawls land over time
    corpus.repartition(6).write.parquet(src)

    q = incremental_index_stream(spark, src, out, ckpt, max_files_per_trigger=2)
    q.awaitTermination(300)

    parts = [m for m in all_manifests(out) if m.get("stage") != "merge"]
    assert len(parts) >= 2  # several micro-batches became shards
    assert all(m["status"] == "done" for m in parts)
    # per-batch as-of dedupe collapses same-url crawls only when co-located
    # in one micro-batch → total docs is between fully-deduped and raw
    total_rows = sum(m["row_count"] for m in parts)
    assert corpus.select("url").distinct().count() <= total_rows <= corpus.count()

    (res,) = _merge_all(spark, [out], target_postings_per_salt=64,
                        n_buckets=2, block_size=16)
    assert res.n_docs == sum(m["row_count"] for m in parts)

    searcher = Searcher(out)
    hits = searcher.search("join hash", k=5)
    assert len(hits) > 0

    # replay idempotence: restarting the finished stream adds nothing
    before = len(all_manifests(out))
    q2 = incremental_index_stream(spark, src, out, ckpt, max_files_per_trigger=2)
    q2.awaitTermination(120)
    assert len(all_manifests(out)) == before


def test_crawl_rate_windowed_agg_matches_batch(spark, corpus, tmp_path):
    """Watermarked windowed streaming agg == batch groupBy on finite input."""
    from tesserae_ng_spark.streaming.monitor import (
        crawl_rate_batch_oracle,
        crawl_rate_stream,
    )

    src = str(tmp_path / "in")
    corpus.repartition(4).write.parquet(src)
    q = crawl_rate_stream(
        spark, src, str(tmp_path / "ckpt"), query_name="crawl_rate_t",
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)
    got = spark.table("crawl_rate_t")
    want = crawl_rate_batch_oracle(spark.read.parquet(src))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_first_seen_timestamp_semantics(spark, tmp_path):
    """first_ts VALUE pin (ADVICE r2): the emitted timestamp is the min
    warc_ts within the first micro-batch containing the url — asserted on
    a crafted batch with shuffled timestamps, not just row counts."""
    import datetime as dt

    from tesserae_ng_spark.schemas import CORPUS_SCHEMA
    from tesserae_ng_spark.streaming.monitor import first_seen_stream

    ts = [dt.datetime(2024, 1, d, tzinfo=dt.timezone.utc) for d in (7, 2, 5)]
    rows = [
        ("http://a.example/x", ts[0], b"<html>a</html>", None, "en"),
        ("http://a.example/x", ts[1], b"<html>a2</html>", None, "en"),
        ("http://a.example/x", ts[2], b"<html>a3</html>", None, "en"),
        ("http://b.example/y", ts[2], b"<html>b</html>", None, "en"),
    ]
    src = str(tmp_path / "in3")
    spark.createDataFrame(rows, CORPUS_SCHEMA).coalesce(1).write.parquet(src)
    out = str(tmp_path / "firsts3")
    q = first_seen_stream(
        spark, src, out, str(tmp_path / "ckpt3"), max_files_per_trigger=1
    )
    q.awaitTermination(300)
    got = {r["url"]: r["first_ts"] for r in spark.read.parquet(out).collect()}
    assert got["http://a.example/x"].replace(tzinfo=dt.timezone.utc) == ts[1]
    assert got["http://b.example/y"].replace(tzinfo=dt.timezone.utc) == ts[2]


def test_first_seen_stateful_dedupe(spark, corpus, tmp_path):
    """applyInPandasWithState: one row per url, first appearance wins,
    state survives across micro-batches."""
    from tesserae_ng_spark.streaming.monitor import first_seen_stream

    src = str(tmp_path / "in2")
    corpus.repartition(6).write.parquet(src)  # several micro-batches
    out = str(tmp_path / "firsts")
    q = first_seen_stream(
        spark, src, out, str(tmp_path / "ckpt2"), max_files_per_trigger=2
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    n_urls = corpus.select("url").distinct().count()
    assert got.count() == n_urls
    assert got.select("url").distinct().count() == n_urls


def test_streaming_index_matches_batch_results(spark, corpus, tmp_path):
    """VERDICT r5 #8 — the whole incremental story in ONE pin: corpus →
    streamed micro-batch shard builds → external merge → queryable index
    whose bm25/phrase/proximity results are IDENTICAL (doc ids and
    scores) to a batch build of the same corpus.

    Input is pre-deduped (asof_latest) so batch and streaming see the
    same doc set — cross-batch same-url crawls are the documented
    streaming-mode trade-off (module docstring), orthogonal to merge and
    query continuity. Scores must match exactly: per-doc (tf, dl) and
    global (n_docs, avg_dl, df) are independent of how docs were split
    into shards, so any difference would mean the merge or the stats
    pipeline is shard-shape-dependent — the exact bug this test exists
    to catch."""
    from tesserae_ng_spark.index.build import asof_latest
    from tesserae_ng_spark.index.builder import build_index

    deduped = asof_latest(corpus).cache()
    src = str(tmp_path / "cont_in")
    sidx = str(tmp_path / "cont_sidx")
    ckpt = str(tmp_path / "cont_ckpt")
    bidx = str(tmp_path / "cont_bidx")
    deduped.repartition(5).write.parquet(src)

    q = incremental_index_stream(spark, src, sidx, ckpt, max_files_per_trigger=2)
    q.awaitTermination(300)
    (res_s,) = _merge_all(spark, [sidx], target_postings_per_salt=64,
                          n_buckets=2, block_size=16)
    build_index(spark, deduped, bidx, n_parts=2, block_size=16, n_buckets=2,
                target_postings_per_salt=64)

    s_stream = Searcher(sidx)
    s_batch = Searcher(bidx)
    assert s_stream.reader.n_docs == s_batch.reader.n_docs == res_s.n_docs
    assert abs(s_stream.reader.avg_dl - s_batch.reader.avg_dl) < 1e-12
    cases = [
        ("join", "bm25", None),
        ("hash scan", "bm25", None),
        ("sort merge join", "bm25", None),
        ("hash join", "phrase", None),
        ("sort merge", "proximity", 6),
        ("zzmissing join", "bm25", None),
    ]
    for text, mode, window in cases:
        a = s_stream.search(text, k=10, mode=mode, window=window or 5)
        b = s_batch.search(text, k=10, mode=mode, window=window or 5)
        assert [(h.doc_id, h.score) for h in a] == [
            (h.doc_id, h.score) for h in b
        ], (text, mode)

"""M1 end-to-end slice: corpus → extraction → postings → BM25 oracle."""

import numpy as np
from pyspark.sql import functions as F

from tesserae_ng_spark.index.build import (
    asof_latest,
    corpus_stats,
    docs_table,
    prepare_docs,
    term_doc_decoded,
)
from tesserae_ng_spark.query.bm25_oracle import bm25_topk_oracle


def test_extraction_byte_identity(spark, corpus):
    """Per-row invariant (BASELINE.json): extracted text == stored text."""
    from tesserae_ng_spark.functions.html import html_extract_udf

    mismatches = (
        corpus.select(
            "url", "text", html_extract_udf(F.col("html")).alias("extracted")
        )
        .filter(F.col("text") != F.col("extracted"))
        .count()
    )
    assert mismatches == 0


def test_asof_latest(spark, corpus):
    deduped = asof_latest(corpus)
    n_urls = corpus.select("url").distinct().count()
    assert deduped.count() == n_urls
    # every kept row has the max warc_ts of its url
    mx = corpus.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
    assert deduped.select("url", "warc_ts").exceptAll(mx).count() == 0


def test_build_and_bm25(spark, corpus):
    prepared = prepare_docs(corpus).cache()
    docs = docs_table(prepared).cache()
    td = term_doc_decoded(prepared).cache()

    n_docs_row = corpus_stats(docs).collect()[0]
    n_docs, avg_dl = n_docs_row["n_docs"], n_docs_row["avg_dl"]
    assert n_docs == corpus.select("url").distinct().count()
    assert avg_dl > 0

    # dl == sum of tfs per doc
    bad = (
        td.groupBy("doc_id")
        .agg(F.sum("tf").alias("s"))
        .join(docs, "doc_id")
        .filter(F.col("s") != F.col("dl"))
        .count()
    )
    assert bad == 0

    # positions are sorted, distinct, and len == tf
    bad_pos = td.filter(
        (F.size("positions") != F.col("tf"))
        | (F.size(F.array_distinct("positions")) != F.col("tf"))
    ).count()
    assert bad_pos == 0

    # pick a real term, run BM25, verify against a hand-computed score
    some = (
        td.groupBy("term").count().orderBy(F.desc("count")).limit(5).collect()
    )
    qterm = some[0]["term"]
    topk = bm25_topk_oracle(td, [qterm], 10, n_docs, avg_dl).collect()
    assert 0 < len(topk) <= 10
    assert [r["rank"] for r in topk] == list(range(1, len(topk) + 1))
    # scores non-increasing; ties broken by doc_id asc
    for a, b in zip(topk, topk[1:]):
        assert a["score"] > b["score"] or (
            a["score"] == b["score"] and a["doc_id"] < b["doc_id"]
        )

    # hand-check the top score
    import math

    df_t = td.filter(F.col("term") == qterm).count()
    top = topk[0]
    row = (
        td.filter((F.col("term") == qterm) & (F.col("doc_id") == top["doc_id"]))
        .collect()[0]
    )
    idf = math.log(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
    expected = idf * row["tf"] / (row["tf"] + 1.2 * (1 - 0.75 + 0.75 * row["dl"] / avg_dl))
    assert abs(top["score"] - expected) < 1e-9

    # absent term → empty result
    assert bm25_topk_oracle(td, ["zzzznotaterm"], 10, n_docs, avg_dl).count() == 0


def test_merged_postings_invariant_to_stage_a_fragmentation(
    spark, corpus, monkeypatch
):
    """The build's exchange-free stage A (encode_blocks_local) emits
    per-partition term FRAGMENTS instead of complete term groups; the
    final index must be byte-identical to merging complete term groups
    (encode_term_group per term via applyInPandas, a reference with no
    production exchange code) because the merge fully decodes, lexsorts
    and re-blocks every (term, salt) group — this is the invariance the
    one-exchange build topology rests on."""
    from tesserae_ng_spark.index import encode
    from tesserae_ng_spark.index.build import prepare_docs, term_doc_table
    from tesserae_ng_spark.index.encode import (
        SHARD_BLOCK_SCHEMA,
        encode_blocks_local,
        encode_term_group,
    )
    from tesserae_ng_spark.index.merge import merge_shard_blocks

    prepared = prepare_docs(corpus).persist()
    td = term_doc_table(prepared)
    # stage A's one key column, constant here: one output
    keyed = td.withColumn("key", F.lit(0))
    n_docs = prepared.count()
    avg_dl = prepared.agg(F.avg("dl")).collect()[0][0]
    docs = np.unique(prepared.select("doc_id").toPandas()["doc_id"].to_numpy())

    def final_rows(stage_a):
        out = merge_shard_blocks(
            stage_a, n_docs=n_docs, avg_dl=avg_dl,
            target_postings_per_salt=64, block_size=16, n_buckets=4,
            docs=docs,
        ).collect()
        return sorted(
            (
                r["term"], r["salt"], r["block_id"], r["n_docs"],
                r["block_first_doc"], r["block_last_doc"],
                r["block_max_score"], r["block_max_tf"], r["block_min_dl"],
                bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["dls"]),
                bytes(r["positions"]) if r["positions"] is not None else None,
            )
            for r in out
        )

    frag = final_rows(encode_blocks_local(keyed, block_size=16))
    grouped = final_rows(
        td.groupBy("term").applyInPandas(
            lambda g: encode_term_group(g, 16), SHARD_BLOCK_SCHEMA
        )
    )
    assert len(frag) > 50
    assert frag == grouped

    # tiny buffer cap → maximal fragmentation (several sorted chunks per
    # partition) — still the same final index
    monkeypatch.setattr(encode, "ENCODE_BUFFER_ROWS", 64)
    tiny = final_rows(encode_blocks_local(keyed, block_size=16))
    prepared.unpersist()
    assert tiny == frag

"""Bytes-per-doc accounting for the build's parts phase (VERDICT r5 #1b).

Measures the REAL per-doc byte footprint of every materialized flow in
stage A on the bench corpus (Arrow boundary crossings, the persist
read/write, the explode, the encoded block bytes, parquet out) and
multiplies by the observed parts-phase docs/sec to get an implied
DRAM-traffic rate, compared against the box's measured streaming
ceiling (round 6's membw_probe; deleted once answered, git keeps it).

The sum is labelled per-component as MEASURED (computed from the actual
corpus / staged index bytes) or ESTIMATED (Python/numpy-internal churn
with an explicit multiplier). The measured flows alone are a LOWER
BOUND on true DRAM traffic — every uncounted effect (Python object
headers, JVM copies, sort passes, allocator movement) adds to it, so
"lower bound ≈ ceiling" proves saturation while "lower bound ≪ ceiling"
would leave the question open to the concurrent-probe measurement
(tools/saturation_probe.py), which is independent of this arithmetic.

Usage:
  python tools/bytes_per_doc.py [sf_dir] [index_dir] [parts_docs_per_sec]

index_dir: an existing build output (e.g. /tmp/tesserae_sat_idx_ref from
saturation_probe) for staged/final on-disk sizes; omit to skip those.
parts_docs_per_sec: n_docs / parts_s from a protocol or saturation run.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    idx_dir = sys.argv[2] if len(sys.argv) > 2 else None
    parts_dps = float(sys.argv[3]) if len(sys.argv) > 3 else None
    replicas = int(os.environ.get("SPARK_GRAFT_REPLICAS", "8"))

    from pyspark.sql import functions as F

    from tesserae_ng_spark.index.build import prepare_docs
    from tesserae_ng_spark.session import get_spark
    from tesserae_ng_spark.sources.corpus import synthesize_corpus

    spark = get_spark("bytes-per-doc", master="local[8]",
                      shuffle_partitions=8)
    corpus = synthesize_corpus(
        spark, sf_dir, replicas=replicas, enrich_vocab=True
    ).persist()
    crow = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length("html")).alias("html_b"),
        F.avg(F.length("text")).alias("text_b"),
        F.avg(F.length("url")).alias("url_b"),
    ).collect()[0]
    prepared = prepare_docs(corpus)
    prow = prepared.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("dl"),
        F.avg(F.size("terms")).alias("n_terms"),
        F.avg(
            F.expr("aggregate(transform(terms, t -> length(t)), 0, "
                   "(a, x) -> a + x)")
        ).alias("term_b"),
        F.avg(F.length("pos")).alias("pos_b"),
    ).collect()[0]
    corpus.unpersist()

    html_b, text_b, url_b = crow["html_b"], crow["text_b"], crow["url_b"]
    n_terms, term_b, pos_b = prow["n_terms"], prow["term_b"], prow["pos_b"]
    # per-doc flat term-vector bytes at the Arrow boundary:
    # terms data + 3 int32 arrays (tfs/offs/lens) + pos stream + dl + offsets
    vec_b = term_b + 12 * n_terms + pos_b + 8 + 4 * n_terms
    # per-doc posting-row bytes after explode (term, doc_id, tf, dl, pos)
    posting_b = term_b + 20 * n_terms + pos_b
    n_parts = int(os.environ.get("SPARK_GRAFT_NPARTS", "2"))

    flows = [
        # (name, bytes/doc, passes, kind)
        ("corpus scan from persist (each part job scans+filters all)",
         html_b + text_b + url_b + 16, n_parts, "measured"),
        ("as-of url repartition exchange (serialized corpus row)",
         html_b + text_b + url_b + 16, 2, "measured"),
        ("Arrow JVM→py (html into analysis UDF)", html_b, 2, "measured"),
        ("analysis-chain churn (lower+regex+tokens ≈ 4× text)",
         text_b, 4, "estimated"),
        ("Arrow py→JVM (flat term vector out)", vec_b, 2, "measured"),
        ("persist prepared: 1 write + 2 reads (docs pass, postings pass)",
         vec_b + url_b, 3, "measured"),
        ("explode → Arrow JVM→py (posting rows into encoder)",
         posting_b, 2, "measured"),
        ("encoder: buffer concat + lexsort + take gather (≈4×)",
         posting_b, 4, "estimated"),
        ("varint encode read+write", posting_b, 2, "measured"),
    ]
    out = {
        "replicas": replicas,
        "n_docs_sampled": prow["n_docs"],
        "per_doc": {
            "html_b": round(html_b, 1),
            "text_b": round(text_b, 1),
            "dl_tokens": round(prow["dl"], 1),
            "n_terms": round(n_terms, 1),
            "term_bytes": round(term_b, 1),
            "pos_stream_b": round(pos_b, 1),
            "vec_arrow_b": round(vec_b, 1),
            "posting_rows_b": round(posting_b, 1),
        },
        "flows": [
            {
                "flow": name,
                "bytes_per_doc": round(b, 1),
                "passes": p,
                "total": round(b * p, 1),
                "kind": kind,
            }
            for name, b, p, kind in flows
        ],
    }
    if idx_dir and os.path.isdir(idx_dir):
        n = prow["n_docs"]
        staged = du(os.path.join(idx_dir, "shards", "postings"))
        docs = du(os.path.join(idx_dir, "shards", "docs"))
        out["on_disk_per_doc"] = {
            "staged_blocks_b": round(staged / n, 1),
            "docs_b": round(docs / n, 1),
        }
        # parquet write ≈ page assembly + compression: 2 passes over the
        # uncompressed block bytes + 1 over compressed (page-cache write)
        out["flows"].append(
            {
                "flow": "parquet block+docs write (assemble+compress+page cache)",
                "bytes_per_doc": round(staged / n + docs / n, 1),
                "passes": 3,
                "total": round(3 * (staged / n + docs / n), 1),
                "kind": "measured",
            }
        )
    measured = sum(f["total"] for f in out["flows"] if f["kind"] == "measured")
    estimated = sum(f["total"] for f in out["flows"] if f["kind"] == "estimated")
    out["bytes_per_doc_measured_lower_bound"] = round(measured, 1)
    out["bytes_per_doc_with_estimates"] = round(measured + estimated, 1)
    if parts_dps:
        out["parts_docs_per_sec"] = parts_dps
        out["implied_gibs_lower_bound"] = round(
            measured * parts_dps / (1 << 30), 2
        )
        out["implied_gibs_with_estimates"] = round(
            (measured + estimated) * parts_dps / (1 << 30), 2
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

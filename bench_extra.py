"""Round-7 optimization harness (bench.py is FROZEN for measurement —
this file exists so individual bench pieces can be isolated, profiled,
and re-measured without touching the graded harness; guide §1.4).

Usage:
    python bench_extra.py <piece> [args...]

Pieces:
    large [n]       query_batch_large shape: n (default 2000) queries over
                    the prebuilt bench union index (seed 777, same vocab
                    construction as bench.py). Prints cold+warm walls.
    batch60         the 60-query reference batch (cold + warm).
    sharded [n]     search_sharded over the prebuilt shard dirs.
    ops             bm25_oracle / dedup_minhash / ann_topk / lang_id via
                    the operator registry, one timed noop-materialization
                    each (count() like bench.py, plus a noop-sink run).
    build           one build_index run (same params as bench.py) into a
                    scratch dir, phases printed.
    shards_build    one fused sharded build (same params as bench.py).

Environment mirrors bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_REPLICAS, SPARK_GRAFT_IDX (defaults to the bench tmpfs dir).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def bench_vocab(sf_dir: str, replicas: int):
    import duckdb

    from tesserae_ng_spark.sources.corpus import enrichment_vocab

    vocab_rows = duckdb.sql(
        f"""SELECT term, count(DISTINCT doc_id) AS df FROM (
              SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
              FROM '{sf_dir}/documents.parquet') WHERE term <> ''
            GROUP BY term ORDER BY df DESC, term"""
    ).fetchall()
    ids_n = duckdb.sql(
        f"SELECT min(doc_id), max(doc_id), count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    vocab = [(t, d * replicas) for t, d in vocab_rows] + [
        (t, d * replicas)
        for t, d in enrichment_vocab([ids_n[0], ids_n[1]], ids_n[2])
    ]
    vocab.sort(key=lambda p: (-p[1], p[0]))
    return vocab


def main():
    piece = sys.argv[1] if len(sys.argv) > 1 else "large"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    replicas = int(os.environ.get("SPARK_GRAFT_REPLICAS", "8" if sf == "0.1" else "1"))
    idx_dir = os.environ.get(
        "SPARK_GRAFT_IDX", f"/dev/shm/tesserae_bench_idx_{sf}_{cpus}"
    )
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/tng_spark_local")

    from tesserae_ng_spark.session import get_spark

    spark = get_spark("bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    out = {"piece": piece, "cpus": cpus}

    if piece in ("large", "batch60", "sharded"):
        from tesserae_ng_spark.fixtures import make_queries
        from tesserae_ng_spark.query.search import search_batch

        vocab = bench_vocab(sf_dir, replicas)
        if piece == "batch60":
            queries = make_queries(vocab, n=60)
        else:
            n = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
            queries = make_queries(vocab, n=n, seed=777)
        out["n_queries"] = len(queries)
        if piece == "sharded":
            from tesserae_ng_spark.query.sharded import search_sharded

            n_shards = int(os.environ.get("SPARK_GRAFT_NSHARDS", "8"))
            shard_dirs = [f"{idx_dir}_shard{i}" for i in range(n_shards)]
            t0 = time.time()
            out["hits"] = search_sharded(spark, shard_dirs, queries, k=10).count()
            out["cold_s"] = round(time.time() - t0, 3)
            t0 = time.time()
            search_sharded(spark, shard_dirs, queries, k=10).count()
            out["warm_s"] = round(time.time() - t0, 3)
        else:
            t0 = time.time()
            out["hits"] = search_batch(spark, idx_dir, queries, k=10).count()
            out["cold_s"] = round(time.time() - t0, 3)
            t0 = time.time()
            search_batch(spark, idx_dir, queries, k=10).count()
            out["warm_s"] = round(time.time() - t0, 3)

    elif piece == "suite_q":
        # bench.py's exact in-session sequence: build → batch60 → warm60 →
        # large2000, one session — reproduces the graded query_batch_large
        # context (fat post-build python workers + persisted corpus)
        from tesserae_ng_spark.fixtures import make_queries
        from tesserae_ng_spark.index.builder import build_index
        from tesserae_ng_spark.query.search import search_batch
        from tesserae_ng_spark.sources.corpus import synthesize_corpus

        scratch = "/dev/shm/tng_extra_suite_idx"
        shutil.rmtree(scratch, ignore_errors=True)
        corpus = synthesize_corpus(
            spark, sf_dir, replicas=replicas, enrich_vocab=True
        ).persist()
        corpus.count()
        t0 = time.time()
        build_index(
            spark, corpus, scratch,
            n_parts=int(os.environ.get("SPARK_GRAFT_NPARTS", "4")),
            target_postings_per_salt=1 << 14, n_buckets=16,
        )
        out["build_s"] = round(time.time() - t0, 3)
        vocab = bench_vocab(sf_dir, replicas)
        queries = make_queries(vocab, n=60)
        t0 = time.time()
        out["hits60"] = search_batch(spark, scratch, queries, k=10).count()
        out["batch60_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        search_batch(spark, scratch, queries, k=10).count()
        out["warm60_s"] = round(time.time() - t0, 3)
        queries_large = make_queries(vocab, n=2000, seed=777)
        t0 = time.time()
        out["hits_large"] = search_batch(spark, scratch, queries_large, k=10).count()
        out["large_s"] = round(time.time() - t0, 3)
        corpus.unpersist()

    elif piece == "suite_ops":
        # bench.py's session-2 sequence: sharded cold → warm1 → prime →
        # warm → ops — reproduces the post-prime context the ops pieces
        # are graded in
        from tesserae_ng_spark.fixtures import make_queries
        from tesserae_ng_spark.query.sharded import (
            prime_shard_workers,
            search_sharded,
        )

        vocab = bench_vocab(sf_dir, replicas)
        queries_large = make_queries(vocab, n=2000, seed=777)
        n_shards = int(os.environ.get("SPARK_GRAFT_NSHARDS", "8"))
        shard_dirs = [f"{idx_dir}_shard{i}" for i in range(n_shards)]
        t0 = time.time()
        search_sharded(spark, shard_dirs, queries_large, k=10).count()
        out["sharded_cold_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        search_sharded(spark, shard_dirs, queries_large, k=10).count()
        out["sharded_warm1_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        prime_shard_workers(spark, shard_dirs, queries=queries_large)
        out["prime_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        search_sharded(spark, shard_dirs, queries_large, k=10).count()
        out["sharded_warm_s"] = round(time.time() - t0, 3)
        from tesserae_ng_spark.operators import load_all

        registry = load_all()
        for key, name in [
            ("bm25_exhaustive", "bm25_oracle"),
            ("dedup_minhash_lsh", "dedup_minhash"),
            ("ann_bruteforce_topk", "ann_topk"),
            ("lang_id", "lang_id"),
        ]:
            fn, _ = registry[key]
            t0 = time.time()
            fn(spark, sf_dir).count()
            out[name] = round(time.time() - t0, 3)

    elif piece == "ops":
        from tesserae_ng_spark.operators import load_all

        registry = load_all()
        for key, name in [
            ("bm25_exhaustive", "bm25_oracle"),
            ("dedup_minhash_lsh", "dedup_minhash"),
            ("ann_bruteforce_topk", "ann_topk"),
            ("lang_id", "lang_id"),
        ]:
            fn, _ = registry[key]
            spark.sparkContext.setJobDescription(f"ops:{name}")
            t0 = time.time()
            fn(spark, sf_dir).count()
            out[name] = round(time.time() - t0, 3)
            # second run: session/python workers warm
            t0 = time.time()
            fn(spark, sf_dir).count()
            out[f"{name}_warm"] = round(time.time() - t0, 3)

    elif piece == "build":
        from tesserae_ng_spark.index.builder import build_index
        from tesserae_ng_spark.sources.corpus import synthesize_corpus

        scratch = "/dev/shm/tng_extra_build_idx"
        shutil.rmtree(scratch, ignore_errors=True)
        corpus = synthesize_corpus(
            spark, sf_dir, replicas=replicas, enrich_vocab=True
        ).persist()
        corpus.count()
        t0 = time.time()
        res = build_index(
            spark, corpus, scratch,
            n_parts=int(os.environ.get("SPARK_GRAFT_NPARTS", "4")),
            target_postings_per_salt=1 << 14, n_buckets=16,
        )
        out["build_s"] = round(time.time() - t0, 3)
        out["phases"] = res.phases
        out["n_docs"] = res.n_docs
        out["n_terms"] = res.n_terms
        out["n_blocks"] = res.n_blocks
        corpus.unpersist()

    elif piece == "shards_build":
        from tesserae_ng_spark.index.sharded_build import build_sharded_indexes
        from tesserae_ng_spark.sources.corpus import synthesize_corpus

        n_shards = int(os.environ.get("SPARK_GRAFT_NSHARDS", "8"))
        shard_dirs = [f"/dev/shm/tng_extra_shard{i}" for i in range(n_shards)]
        for sd in shard_dirs:
            shutil.rmtree(sd, ignore_errors=True)
        corpus = synthesize_corpus(
            spark, sf_dir, replicas=replicas, enrich_vocab=True
        ).persist()
        corpus.count()
        t0 = time.time()
        res = build_sharded_indexes(
            spark, corpus, shard_dirs,
            target_postings_per_salt=1 << 14, n_buckets=4,
        )
        out["shards_build_s"] = round(time.time() - t0, 3)
        out["phases"] = res[0].phases
        corpus.unpersist()

    else:
        raise SystemExit(f"unknown piece {piece!r}")

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

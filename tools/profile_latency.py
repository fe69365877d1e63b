"""Profile bench.py's single-query latency loop (single_qps) standalone.

Reproduces the exact bench shape — 60-query reference set (seed 42),
warmed searcher (Searcher warm_mb=64), 200 sequential queries — against
an existing profile index (tools/profile_positional.py builds it), and
prints p50/p99/qps plus the cProfile hot list. VERDICT r4 #6: single_qps
moved 132 → 104 between driver runs; one profiled run decides whether
that is host noise or a code path.

Usage: python tools/profile_latency.py [sf_dir] [--cold]
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.profile_positional import REPLICAS, ensure_index  # noqa: E402


def reference_queries(sf_dir: str) -> list[dict]:
    import duckdb

    from tesserae_ng_spark.fixtures import make_queries
    from tesserae_ng_spark.sources.corpus import enrichment_vocab

    vocab_rows = duckdb.sql(
        f"""SELECT term, count(DISTINCT doc_id) AS df FROM (
              SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
              FROM '{sf_dir}/documents.parquet') WHERE term <> ''
            GROUP BY term ORDER BY df DESC, term"""
    ).fetchall()
    ids_n = duckdb.sql(
        f"""SELECT min(doc_id), max(doc_id), count(*)
            FROM '{sf_dir}/documents.parquet'"""
    ).fetchone()
    vocab = [(t, d * REPLICAS) for t, d in vocab_rows] + [
        (t, d * REPLICAS)
        for t, d in enrichment_vocab([ids_n[0], ids_n[1]], ids_n[2])
    ]
    vocab.sort(key=lambda p: (-p[1], p[0]))
    return make_queries(vocab, n=60)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    tag = os.path.basename(os.path.normpath(sf_dir))
    idx_dir = f"/tmp/tng_prof_idx_{tag}_r{REPLICAS}"
    ensure_index(sf_dir, idx_dir)
    queries = reference_queries(sf_dir)

    from tesserae_ng_spark.query.search import Searcher

    warm_mb = 0.0 if "--cold" in sys.argv else 64.0
    t0 = time.time()
    s = Searcher(idx_dir, warm_mb=warm_mb)
    print(f"open+warm {time.time() - t0:.3f}s "
          f"(warm_info={s.warm_info and s.warm_info.get('terms')})")

    lat = []
    prof = cProfile.Profile()
    t0 = time.time()
    prof.enable()
    for i in range(200):
        q = queries[i % len(queries)]
        t1 = time.time()
        s.search(q["query_text"], k=q["k"], mode=q["mode"])
        lat.append((time.time() - t1) * 1000)
    prof.disable()
    wall = time.time() - t0
    lat.sort()
    print(f"single_qps {200 / wall:.2f}  p50 {lat[100]:.3f} ms  "
          f"p99 {lat[198]:.3f} ms  max {lat[-1]:.1f} ms")
    out = io.StringIO()
    pstats.Stats(prof, stream=out).sort_stats("cumulative").print_stats(22)
    print(out.getvalue())


if __name__ == "__main__":
    main()

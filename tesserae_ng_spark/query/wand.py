"""Block-max WAND top-k over compressed postings (SURVEY.md §2.11).

Algorithm: Broder et al. CIKM'03 (WAND) + Ding & Suel SIGIR'11 (block-max
refinement). Lucene 4 — the reference's engine — had neither; BMW is a
contract requirement (BASELINE.json north_star); Lucene 8+ adopted the
same algorithm, so its public semantics are the behavioral target.

Guarantee: EXHAUSTIVE-EQUIVALENT top-k — identical (doc, score) lists,
including the deterministic tie-break (score desc, doc asc) — property-
tested against the pure-DataFrame oracle (tests/test_wand.py).

Every scorer here works in the index's doc ORDINAL space (postings format
3, see index/codec.py) and returns (ordinal, score) pairs. Within one
index ordinal order is doc_id order, so the tie-break is the doc_id
tie-break; callers map the final top-k through the reader's doc list.

Pruning discipline for exactness:
- prune only when upper_bound < threshold - EPS (never on ==): a candidate
  tying the heap minimum may still win the doc_id tie-break;
- EPS absorbs float-addition rounding between the bound sum and the real
  score sum;
- per-posting scores are recomputed from (tf, dl) with the exact oracle
  formula in float64, and block_max_score was stored as the max of those
  same float64 values at merge time, so bounds are true upper bounds.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from tesserae_ng_spark.schemas import BM25_B, BM25_K1

EPS = 1e-12


class TermIterator:
    """Cursor over one term's blocks (blocks arrive in doc order: salts are
    contiguous doc ranges, so (salt, block_id) order == doc order).

    ``df`` overrides the stored document frequency (sharded/distributed
    search under GLOBAL stats — the Solr distributed-IDF analog). Stored
    ``block_max_score`` was computed under the index's own merge-time
    (n_docs, avg_dl, df) and is NOT a valid bound under any other stats, so
    when ``stats_free`` is set, per-block bounds are recomputed from the
    stored (max_tf, min_dl): BM25's tf-part f(tf, dl) = tf/(tf + k1·(1−b +
    b·dl/avg_dl)) is monotone ↑ in tf and ↓ in dl, hence idf·f(max_tf,
    min_dl) ≥ idf·f(tf_i, dl_i) for every posting i of the block — a true
    (slightly looser) upper bound under the query's stats."""

    def __init__(self, postings, n_docs: int, avg_dl: float,
                 k1: float = BM25_K1, b: float = BM25_B,
                 df: int | None = None, stats_free: bool = False):
        self.term = postings.term
        df_t = postings.df if df is None else df
        self.idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        self.tp = postings
        # struct-of-arrays metadata (VERDICT r5 #5): block skips index
        # numpy arrays / searchsorted instead of per-block Python objects
        self._last = postings.blk_last
        self._first = postings.blk_first
        self.n_blocks = postings.n_blocks
        self.avg_dl = avg_dl
        self.k1 = k1
        self.b = b
        self._bounds = None
        if stats_free and self.n_blocks:
            mt = postings.blk_max_tf.astype(np.float64)
            md = postings.blk_min_dl.astype(np.float64)
            self._bounds = self.idf * mt / (
                mt + k1 * (1.0 - b + b * md / avg_dl)
            )
            self.max_score = float(self._bounds.max())
        else:
            self._bounds_stored = postings.blk_max_score
            self.max_score = postings.max_score
        self.exhausted = not self.n_blocks
        self.bi = 0
        self.pi = 0
        self._ids = None
        self._scores = None
        if not self.exhausted:
            self._load(0)

    def _load(self, bi: int) -> None:
        """Move the block cursor — METADATA ONLY. Decompression happens
        lazily on first posting access (_ensure_decoded), so skip-heavy
        queries advance over blocks without ever decoding them (the actual
        block-max WAND payoff; Ding & Suel §4)."""
        self.bi = bi
        self.pi = 0
        self._ids = None
        self._scores = None

    def _ensure_decoded(self) -> None:
        if self._ids is None:
            ids, tfs, dls = self.tp.decode_block(self.bi)
            self._ids = ids
            self._scores = self.idf * tfs / (
                tfs + self.k1 * (1.0 - self.b + self.b * dls / self.avg_dl)
            )

    def cur_doc(self) -> int:
        if self._ids is None:
            if self.pi == 0:
                # block metadata knows its first doc — no decode needed
                return int(self._first[self.bi])
            self._ensure_decoded()
        return int(self._ids[self.pi])

    def cur_score(self) -> float:
        self._ensure_decoded()
        return float(self._scores[self.pi])

    def cur_block_max(self) -> float:
        if self._bounds is not None:
            return float(self._bounds[self.bi])
        return float(self._bounds_stored[self.bi])

    def cur_block_last(self) -> int:
        return int(self._last[self.bi])

    def _seek_block(self, target: int) -> bool:
        """Block cursor → first block whose last_doc >= target, via ONE
        searchsorted over the blk_last skip array (the old per-block
        Python while-loop was O(blocks skipped) per seek — a head term at
        web scale has ~10^5 blocks). Never seeks backwards."""
        if int(self._last[self.bi]) >= target:
            return True
        bi = int(np.searchsorted(self._last, target))
        if bi >= self.n_blocks:
            self.exhausted = True
            return False
        self._load(bi)
        return True

    def advance_to(self, target: int) -> bool:
        """Seek to the first posting with doc >= target. Intermediate blocks
        are skipped on metadata alone; only the landing block decodes."""
        if not self._seek_block(target):
            return False
        self._ensure_decoded()
        self.pi = int(np.searchsorted(self._ids[self.pi:], target)) + self.pi
        return True

    def next(self) -> bool:
        self._ensure_decoded()
        self.pi += 1
        if self.pi < self._ids.size:
            return True
        if self.bi + 1 >= self.n_blocks:
            self.exhausted = True
            return False
        self._load(self.bi + 1)
        return True

    def shallow_advance(self, target: int) -> bool:
        """Advance the block cursor until the current block may contain
        target — metadata only, nothing decodes."""
        return self._seek_block(target)


def wand_topk(
    term_postings: dict,
    n_docs: int,
    avg_dl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    df_override: dict | None = None,
) -> list[tuple[int, float]]:
    """→ [(ordinal, score)] sorted by (score desc, ordinal asc), len ≤ k.

    Full scoring sums per-term partials in sorted-term order — a fixed
    order makes float sums deterministic across runs and parallelism.

    ``df_override`` maps term → GLOBAL df (sharded search): iterators run
    in stats-free mode, recomputing block bounds from (max_tf, min_dl)
    under the given (n_docs, avg_dl, df).
    """
    stats_free = df_override is not None
    its = [
        TermIterator(
            tp, n_docs, avg_dl, k1, b,
            df=(df_override or {}).get(tp.term),
            stats_free=stats_free,
        )
        for tp in term_postings.values()
        if tp.n_blocks
    ]
    its = [it for it in its if not it.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -ordinal) min-heap

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else -math.inf

    while its:
        its.sort(key=lambda x: x.cur_doc())
        th = theta()
        acc = 0.0
        pivot_idx = -1
        for i, it in enumerate(its):
            acc += it.max_score
            if acc >= th - EPS:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # even all terms together cannot reach the threshold
        pivot_doc = its[pivot_idx].cur_doc()
        # include every iterator already sitting on pivot_doc: they
        # contribute to its real score, so they belong in the bound
        while (
            pivot_idx + 1 < len(its)
            and its[pivot_idx + 1].cur_doc() == pivot_doc
        ):
            pivot_idx += 1

        # block-max refinement: tighter bound from the leaders' current blocks
        leaders = its[: pivot_idx + 1]
        ok = True
        bound = 0.0
        for it in leaders:
            if not it.shallow_advance(pivot_doc):
                ok = False
                break
            bound += it.cur_block_max()
        if not ok:
            its = [x for x in its if not x.exhausted]
            continue
        if bound < th - EPS:
            # skip past the earliest block boundary among leaders, bounded
            # by the next non-leader's current doc (Ding & Suel GetNewCandidate)
            nxt = min(it.cur_block_last() for it in leaders) + 1
            if pivot_idx + 1 < len(its):
                nxt = min(nxt, its[pivot_idx + 1].cur_doc())
            nxt = max(nxt, pivot_doc + 1)
            for it in leaders:
                it.advance_to(nxt)
            its = [x for x in its if not x.exhausted]
            continue

        # shallow_advance may have moved a leader's cursor PAST pivot_doc
        # (block switch resets to the next block's first doc): re-sort and
        # re-pivot on the fresh state — progress was made, no livelock.
        if any(it.cur_doc() > pivot_doc for it in leaders):
            continue

        # aligned ⟺ every leader sits on pivot_doc (leaders are ≤ pivot_doc
        # after the guard above; non-leaders are ≥ pivot_doc by sort order)
        if min(it.cur_doc() for it in leaders) == pivot_doc:
            aligned = [it for it in its if it.cur_doc() == pivot_doc]
            score = 0.0
            for it in sorted(aligned, key=lambda x: x.term):
                score += it.cur_score()
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            for it in aligned:
                it.next()
            its = [x for x in its if not x.exhausted]
        else:
            # advance a strictly-lagging iterator (largest term bound first)
            lagging = [it for it in leaders if it.cur_doc() < pivot_doc]
            lag = max(lagging, key=lambda x: x.max_score)
            lag.advance_to(pivot_doc)
            its = [x for x in its if not x.exhausted]

    out = sorted(heap, key=lambda item: (-item[0], -item[1]))
    return [(-negid, s) for (s, negid) in out]


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
    idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
    scores = idf * tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl))
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
    None. Matched docs are exactly the nonzero entries (bm25 partials are
    strictly positive).

    Tie handling never sorts the full hit set: argpartition over the hits
    yields the true k-th score (the k largest VALUES are exact; only their
    doc-id tie-break may be wrong), so the exact top-k is recoverable by
    ordering just the docs with score ≥ kth — typically k plus one tie
    group. The old full-hit lexsort fallback fired on ~90% of queries on
    corpora with duplicated docs (score runs ⇒ kth almost always tied) and
    was the dominant per-query cost at head-term hit counts."""
    hit = np.nonzero(acc)[0]
    if hit.size == 0:
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

    WAND's doc-at-a-time Python loop wins when it can SKIP (selective
    terms, huge N); with dense postings (head-term queries, small
    vocabularies) it degenerates to visiting everything at ~1 µs/doc.
    This path decodes whole blocks into numpy and scores every posting
    vectorized (~50× faster when no skipping is possible).

    EXHAUSTIVE-EQUIVALENT to wand_topk bit-for-bit: terms are accumulated
    in sorted-term order (np.add.at is sequential and unbuffered), so each
    doc's float-addition order matches WAND's full-score order. Every
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
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        ids, tfs, dls, _, _ = tp.decode_full()
        ids_parts.append(ids)
        score_parts.append(idf * tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl)))
    if not ids_parts:
        return []
    ids = np.concatenate(ids_parts)
    sc = np.concatenate(score_parts)
    uniq, inv = np.unique(ids, return_inverse=True)
    acc = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(acc, inv, sc)
    return dense_row_topk(acc, k, uniq)

"""Query executor: BM25 / phrase / proximity search over a built index.

Single-query path (SURVEY.md §3.2): runs fully in-process — analyze the
query with the SAME chain used at index time (plain-Python functions),
pyarrow-fetch the terms' dictionary rows + posting block metadata, then
score with one of three exhaustive-equivalent scorers (``Searcher.search``).
No Spark session needed (the reference's always-warm Solr core
analog). Batch path (``search_batch``): the one-shard case of the one
distributed executor, ``sharded.search_sharded`` — executors open the same
immutable index (local FS here, object store at scale) and score their
slice of the queries with the per-query scorers above.

Positional modes (SURVEY.md §2.9 / §3.3 — the Tesserae comparison
re-expressed over positional postings):

- phrase:     docs where the query terms occur consecutively (pos_i+1 ==
              pos_{i+1} ... exact phrase). tf = number of phrase starts;
              score = BM25 with df = number of phrase-matching docs.
- proximity:  docs where all terms co-occur within a token window w.
              score = ln((Σ_t 1/tf_t) / max(d, 1)) with d = minimal span
              covering one occurrence of every term — the Tesserae
              distance-weighted formula (Forstall et al. 2014 shape).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

from tesserae_ng_spark.functions.analysis import analyze_query
from tesserae_ng_spark.query.reader import IndexReader, TermPostings
from tesserae_ng_spark.query.wand import (
    bm25_dense_topk,
    bm25_global_topk,
    wand_topk,
)
from tesserae_ng_spark.schemas import BM25_B, BM25_K1

# per-node cap for the dense global accumulator (8B/doc); larger indexes
# are sharded across executors in batch mode anyway
GLOBAL_ACC_MAX_DOCS = 100_000_000

# above this many total postings a query runs the block-max pruning scorer
# (wand_topk), which reads and decodes only the blocks it cannot prune;
# below it the exhaustive scorers decode everything in one bulk read
DENSE_POSTINGS_CUTOFF = 1 << 24

# batch prefetch loads payload bytes eagerly only for terms up to this df;
# heavier terms stay metadata-only so the pruning scorer reads only the
# blocks it keeps, exactly where postings are GBs
PREFETCH_MAX_DF = 1 << 20


# no hits: (doc_ids, scores)
_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


@dataclass
class Hit:
    rank: int
    doc_id: int
    score: float


class Searcher:
    def __init__(self, index_dir: str, lang: str = "en", warm_mb: float = 0.0):
        self.reader = IndexReader(index_dir)
        self.lang = lang
        # opt-in head-term warmer (IndexReader.warm_top_terms — the
        # Solr warming-query analog for latency-sensitive services);
        # the default 0 stays lazy
        self.warm_info = (
            self.reader.warm_top_terms(warm_mb) if warm_mb > 0 else None
        )

    def prefetch(self, terms) -> None:
        """One metadata scan + one payload scan for a batch's terms (their
        union); head terms past PREFETCH_MAX_DF stay lazy so the pruning
        scorer can skip their blocks without the I/O having happened.
        Positions are never prefetched — positional queries load them
        candidate-only (TermPostings.candidate_positions)."""
        if terms:
            fetched = self.reader.fetch(sorted(terms))
            self.reader.ensure_payloads(
                fetched.values(), max_df=PREFETCH_MAX_DF
            )

    def search(self, query_text: str, k: int = 10, mode: str = "bm25",
               window: int = 5, global_stats: dict | None = None) -> list[Hit]:
        """``global_stats`` (sharded/distributed search — the Solr
        distributed-IDF analog): {"n_docs": int, "avg_dl": float,
        "df": {term: global df}}. Scores become comparable across shards so
        a driver-side merge of per-shard top-k is rank-identical to one
        global index. The block-max scorer runs under overridden stats
        too: the index stores stats-free per-block (max_tf, min_dl), and
        ``wand_topk`` computes every bound under the query's (n_docs,
        avg_dl, df).

        Analysis, then ``_search_terms`` (the entry point for terms
        already analyzed with this searcher's ``lang``: the batch
        executor's tasks score through it from the driver's analysis),
        then one ``Hit`` per (doc_id, score). k < 1 returns [] in every
        mode."""
        terms = analyze_query(query_text, self.lang)
        docs, scores = self._search_terms(terms, k, mode, window, global_stats)
        return [
            Hit(rank=i + 1, doc_id=d, score=sc)
            for i, (d, sc) in enumerate(zip(docs.tolist(), scores.tolist()))
        ]

    def _search_terms(self, terms: list[str], k: int, mode: str = "bm25",
                      window: int = 5, global_stats: dict | None = None):
        """``search`` from analyzed ``terms`` → (doc_ids int64, scores
        float64), best first. The scorers return doc ordinals; the top-k
        maps through the reader's doc list (k gathers)."""
        if not terms or k < 1:
            return _NO_HITS
        fetched = self.reader.fetch(terms)
        if not fetched:
            return _NO_HITS
        if mode == "bm25":
            if global_stats is not None:
                n_docs = global_stats["n_docs"]
                avg_dl = global_stats["avg_dl"]
                dfo = global_stats.get("df") or {}
            else:
                n_docs = self.reader.n_docs
                avg_dl = self.reader.avg_dl
                dfo = None
            # three exhaustive-equivalent scorers, picked by shape:
            # - block-max MaxScore (wand_topk): huge unions, where pruning
            #   whole blocks pays; it loads only the blocks it keeps
            # - global accumulator: dense postings + index fits a per-node
            #   accumulator over its ordinal space (scatter-add per term,
            #   per-term work cached)
            # - vectorized dense: small posting unions, no global array
            total_postings = sum(tp.df for tp in fetched.values())
            if total_postings > DENSE_POSTINGS_CUTOFF:
                top = wand_topk(fetched, n_docs, avg_dl, k, df_override=dfo)
            else:
                # exhaustive scorers decode every block — bulk-load all
                # payloads in one scan instead of one scan per term.
                # Selective (tail) queries score over the posting UNION
                # (dense path): the global accumulator's O(n_docs) zero +
                # nonzero sweep per query dwarfs a few thousand postings.
                self.reader.ensure_payloads(fetched.values())
                if (
                    self.reader.n_docs <= GLOBAL_ACC_MAX_DOCS
                    and total_postings * 8 > self.reader.n_docs
                ):
                    top = bm25_global_topk(
                        fetched, self.reader.global_doc_ids().size,
                        n_docs, avg_dl, k, df_override=dfo,
                    )
                else:
                    top = bm25_dense_topk(
                        fetched, n_docs, avg_dl, k, df_override=dfo
                    )
        elif mode == "phrase":
            ordered = [fetched[t] for t in terms if t in fetched]
            if len(ordered) < len(terms):
                return _NO_HITS  # a phrase term missing from the corpus
            # ids/tfs/dls only — positions load candidate-only inside
            # phrase_match_arrays (_candidate_decoded)
            self.reader.ensure_payloads(ordered)
            top = phrase_topk(ordered, self.reader.n_docs, self.reader.avg_dl, k)
        elif mode == "proximity":
            uniq = sorted(set(terms))
            if any(t not in fetched for t in uniq):
                return _NO_HITS
            tps = [fetched[t] for t in uniq]
            self.reader.ensure_payloads(tps)  # positions load candidate-only
            top = proximity_topk(tps, window, k)
        else:
            raise ValueError(f"unknown mode {mode!r}")
        if not top:
            return _NO_HITS
        ords, scores = zip(*top)
        return (
            self.reader.global_doc_ids()[np.array(ords, dtype=np.int64)],
            np.array(scores, dtype=np.float64),
        )


# ---------------------------------------------------------------------------
# conjunctive positional iteration
# ---------------------------------------------------------------------------


def _conjunctive_matches(tps: list[TermPostings]):
    """Per-doc conjunctive iteration with positions (generic-arity path).

    Yields (doc_id, dl, [(tf_t, positions_t) per term]) for docs containing
    ALL terms. Positions slice out of the flat per-term arrays by offset —
    no per-posting objects exist until a doc actually matches.
    """
    got = _intersect_decoded(tps)
    if got is None:
        return
    decoded, idxs, common = got
    for row, doc in enumerate(common):
        per_term = []
        dl = 0
        for t, (ids, tfs, dls, pos_flat, pos_offs) in enumerate(decoded):
            i = int(idxs[t][row])
            dl = int(dls[i])
            o = int(pos_offs[i])
            per_term.append((int(tfs[i]), pos_flat[o : o + int(tfs[i])]))
        yield int(doc), dl, per_term


_ROW_BITS = np.int64(21)
_ROW_SHIFT = np.int64(1) << _ROW_BITS  # positions < 2^21 (dl < 2M tokens)
# keys are nonnegative (row ≥ 0, pos ≥ 0), so `key >> _ROW_BITS` ==
# `key // _ROW_SHIFT` — and the shift is several× cheaper than 64-bit
# integer division on the hot positional paths


class PositionOverflow(Exception):
    """A document's token position exceeds the packed-key budget (≥ 2M
    tokens in one doc); callers fall back to the per-doc path."""


def _row_pos_keys(decoded, idxs, n_common, margin=0):
    """Per term: pack (common-row, position) into one sortable int64 key.
    Rows (not raw doc ids — those span the full int64 range) make the
    packing safe: row < n_common, pos < 2^21. Positions gather out of the
    flat array with one vectorized fancy-index — no per-doc objects.
    Raises PositionOverflow when any position won't fit the key budget
    minus ``margin`` (otherwise position bits would silently corrupt row
    bits). Callers pass margin = query arity so that the ±i offset
    arithmetic in _phrase_rows_vectorized can neither overflow a position
    into the next row's bits (pos + i ≥ 2^21) NOR let an underflowed
    start key (keys[j0] - j0 borrowing from the row bits when pos < j0)
    collide with a legal term-0 key — a wrapped key carries position
    bits ≥ 2^21 - arity, which no accepted key has."""
    from tesserae_ng_spark.index.codec import expand_segment_values

    keys = []
    for t, (ids, tfs, dls, pos_flat, pos_offs) in enumerate(decoded):
        sel = idxs[t]
        counts = tfs[sel]
        total = int(counts.sum())
        run_starts = np.cumsum(counts) - counts
        rows = expand_segment_values(
            np.arange(len(sel), dtype=np.int64), run_starts, total
        )
        # flat gather: start offset of each selected posting + within-run arange
        gather = expand_segment_values(
            pos_offs[sel] - run_starts, run_starts, total
        ) + np.arange(total, dtype=np.int64)
        pos_sel = pos_flat[gather].astype(np.int64)
        cap = int(_ROW_SHIFT) - int(margin)
        if pos_sel.size and int(pos_sel.max()) >= cap:
            raise PositionOverflow(
                f"position {int(pos_sel.max())} >= {cap}"
            )
        keys.append(rows * _ROW_SHIFT + pos_sel)
    return keys


def _isin_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership mask of ``a`` in ``b``, both sorted ascending — one
    searchsorted instead of np.isin's internal sort+unique (packed position
    keys are constructed sorted, so the sort np.isin pays is pure waste)."""
    idx = np.searchsorted(b, a)
    ok = idx < b.size
    out = np.zeros(a.size, dtype=bool)
    out[ok] = b[idx[ok]] == a[ok]
    return out


def _intersect_sorted_unique(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sorted intersection (VALUES) of two sorted arrays with UNIQUE
    elements — doc-id lists and packed (row, pos) keys both qualify.

    Skewed sizes → probe the small side into the big one (searchsorted,
    O(small · log big)). Comparable sizes → ONE stable sort of the
    concatenation: numpy's timsort galloping-merges the two pre-sorted
    runs in O(n) sequential passes (measured ~3× a same-size
    searchsorted's n·log n random probes on this host), and with unique
    inputs the intersection is exactly the adjacent-duplicate values of
    the merge. Crossover 4:1 from the measured per-element costs
    (~8 ns/elem merge vs ~46 ns/probe at 1M)."""
    small, big = (a, b) if a.size <= b.size else (b, a)
    if small.size * 4 <= big.size:
        return small[_isin_sorted(small, big)]
    v = np.sort(np.concatenate((a, b)), kind="stable")
    dup = v[1:] == v[:-1]
    return v[:-1][dup]


def _sorted_group_starts(rows: np.ndarray) -> np.ndarray:
    """Start indices of each run of equal values in a SORTED array — the
    np.unique replacement for pre-sorted input (np.unique re-sorts, which
    is among the costliest numpy ops on this VM's memory system)."""
    starts = np.nonzero(np.diff(rows))[0] + 1
    return np.concatenate((np.zeros(1, dtype=np.int64), starts))


def _phrase_rows_vectorized(keys: list[np.ndarray]):
    """→ (rows, phrase_tf) of common-rows containing the exact phrase.
    Chained sorted-membership over packed keys: start positions where
    term_i sits at pos+i for every i. Fully vectorized across all docs."""
    # chain from the SMALLEST key array: candidate phrase starts are
    # keys[j0] - j0, and every probe after the first filters a set no
    # larger than the smallest term's occurrence count — for a head∧tail
    # phrase that replaces an O(head-positions) first pass with an
    # O(tail-positions) one. Underflowed starts (occurrence index < j0,
    # so the packed key slips into the previous row) can never survive:
    # the _row_pos_keys margin guard rejects positions ≥ 2^21 - arity, so
    # a wrapped key's position bits (≥ 2^21 - j0) match no accepted key.
    order = sorted(range(len(keys)), key=lambda j: keys[j].size)
    j0 = order[0]
    cur = keys[j0] - j0
    for i in order[1:]:
        cur = _intersect_sorted_unique(cur + i, keys[i]) - i
        if cur.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    rows = cur >> _ROW_BITS  # sorted (cur is sorted)
    starts = _sorted_group_starts(rows)
    tf = np.diff(np.concatenate((starts, [rows.size])))
    return rows[starts], tf


def _min_span_2term_vectorized(k1: np.ndarray, k2: np.ndarray):
    """→ (rows, min |p1-p2| per row) for two packed-key arrays.
    The minimal cross-set distance is realized by an adjacent pair in the
    merged sorted order (classic two-pointer argument), so one argsort +
    one adjacent scan covers every doc simultaneously."""
    # k1 and k2 arrive sorted: pack the origin term into bit 0 and let ONE
    # stable sort merge the two pre-sorted runs (timsort gallops them in
    # O(n) sequential passes — measured faster than two same-size
    # searchsorted probe passes plus their random scatter stores). Keys are
    # row·2^21 + pos with row < n_common, so the 1-bit shift cannot
    # overflow; ties (same key, both terms) keep term order 0-then-1,
    # identical to the old left/right-sided searchsorted merge.
    v = np.sort(
        np.concatenate(((k1 << 1), (k2 << 1) | 1)), kind="stable"
    )
    ks = v >> 1
    fs = v & 1
    rows_all = ks >> _ROW_BITS
    same_row = rows_all[1:] == rows_all[:-1]
    diff_term = fs[1:] != fs[:-1]
    adj = same_row & diff_term
    if not adj.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    spans = (ks[1:] - ks[:-1])[adj]
    rows = rows_all[1:][adj]
    # rows is sorted (ks ascending) → min span per row via one reduceat
    # over run boundaries instead of a two-key lexsort
    starts = _sorted_group_starts(rows)
    return rows[starts], np.minimum.reduceat(spans, starts)


def _min_cover_span_vectorized(keys: list[np.ndarray]):
    """→ (rows, minimal token span covering ≥1 occurrence of EVERY term per
    row) — generic arity, fully vectorized across all docs at once.

    Sweep the merged sorted key order; at each key, the best window ending
    there starts at the EARLIEST of the per-term most-recent occurrences
    (the textbook per-doc sweep, executed for every doc simultaneously):
    per-term 'most recent key ≤ here' is a masked np.maximum.accumulate,
    validity = that key still belongs to the same row."""
    T = len(keys)
    # pack the term ordinal into the low bits and merge the pre-sorted
    # runs with ONE stable value sort (timsort gallops sorted runs; an
    # argsort would pay an extra permutation gather). Keys are
    # row·2^21 + pos < 2^43, so a few term bits cannot overflow.
    tbits = max(1, (T - 1).bit_length())
    v = np.sort(
        np.concatenate(
            [(k << tbits) | t for t, k in enumerate(keys)]
        ),
        kind="stable",
    )
    ks, ts = v >> tbits, v & ((1 << tbits) - 1)
    n = ks.size
    mins = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    for t in range(T):
        kt = np.where(ts == t, ks, np.int64(-1))
        np.minimum(mins, np.maximum.accumulate(kt), out=mins)
    rows_i = ks >> _ROW_BITS
    valid = (mins >= 0) & (mins >> _ROW_BITS == rows_i)
    if not valid.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    spans = ks[valid] - mins[valid]  # same row ⇒ pure position difference
    rows = rows_i[valid]  # sorted (ks ascending, mask keeps order)
    starts = _sorted_group_starts(rows)
    return rows[starts], np.minimum.reduceat(spans, starts)


def _phrase_count(pos_lists: list[np.ndarray]) -> int:
    """Number of start positions where terms occur consecutively."""
    starts = pos_lists[0]
    for i, pl in enumerate(pos_lists[1:], start=1):
        need = starts + i
        mask = np.isin(need, pl)
        starts = starts[mask]
        if starts.size == 0:
            return 0
    return int(starts.size)


def _min_cover_span(pos_lists: list[np.ndarray]) -> int:
    """Minimal token span containing ≥1 occurrence of every term."""
    merged = []
    for ti, pl in enumerate(pos_lists):
        merged.extend((int(p), ti) for p in pl)
    merged.sort()
    need = len(pos_lists)
    counts = [0] * need
    have = 0
    best = None
    left = 0
    for right in range(len(merged)):
        counts[merged[right][1]] += 1
        if counts[merged[right][1]] == 1:
            have += 1
        while have == need:
            span = merged[right][0] - merged[left][0]
            best = span if best is None else min(best, span)
            counts[merged[left][1]] -= 1
            if counts[merged[left][1]] == 0:
                have -= 1
            left += 1
    return best if best is not None else -1


def _intersect_decoded(tps: list[TermPostings]):
    """→ (decoded, idxs, common) or None when the conjunction is empty.
    FULL decode of every term's positions — only the PositionOverflow
    fallback uses this; the main path is _candidate_decoded."""
    decoded = [tp.decode_full(with_positions=True) for tp in tps]
    common = decoded[0][0]
    for ids, *_ in decoded[1:]:
        # both sides sorted → membership mask beats np.intersect1d, which
        # re-sorts the concatenation even under assume_unique
        common = common[_isin_sorted(common, ids)]
        if common.size == 0:
            return None
    idxs = [np.searchsorted(d[0], common) for d in decoded]
    return decoded, idxs, common


def _candidate_decoded(tps: list[TermPostings]):
    """→ (decoded, idxs, common) like _intersect_decoded, but positions are
    gathered for the CANDIDATE docs only: intersect on doc ids first
    (ids/tfs/dls payloads — cheap), then decode position payloads from just
    the blocks holding candidates (TermPostings.candidate_positions). A
    head∧tail conjunction touches ~df(tail) docs, so the head term's
    position bytes — the bulk of its postings — never load or decode."""
    ids_lists = [tp.decode_full()[0] for tp in tps]
    # intersect in ASCENDING df order: searchsorted cost is
    # O(|probe| · log |table|), so the probe side must be the small one.
    # A head∧tail conjunction probed head-first costs O(df_head ·
    # log df_tail); tail-first it is O(df_tail · log df_head) — orders of
    # magnitude less on a Zipf dictionary (the candidate SET is identical
    # either way, so downstream results are unchanged).
    by_size = sorted(range(len(tps)), key=lambda t: ids_lists[t].size)
    common = ids_lists[by_size[0]]
    for t in by_size[1:]:
        common = _intersect_sorted_unique(common, ids_lists[t])
        if common.size == 0:
            return None
    decoded = []
    for tp in tps:
        tfs, dls, pos_flat, pos_offs = tp.candidate_positions(common)
        decoded.append((common, tfs, dls, pos_flat, pos_offs))
    idxs = [np.arange(common.size, dtype=np.int64)] * len(tps)
    return decoded, idxs, common


_EMPTY3 = (
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
)


def phrase_match_arrays(ordered_tps: list[TermPostings]):
    """→ (doc ordinals, phrase_tfs, dls) over ALL docs containing the exact
    phrase — the match primitive shared by single-index phrase_topk and
    sharded phrase search (which needs the raw arrays to score under GLOBAL
    df: docs.size is this index's phrase-df contribution)."""
    got = _candidate_decoded(ordered_tps)
    if got is None:
        return _EMPTY3
    decoded, idxs, common = got
    try:
        keys = _row_pos_keys(
            decoded, idxs, common.size, margin=len(ordered_tps)
        )
        rows, tfs = _phrase_rows_vectorized(keys)
        if rows.size == 0:
            return _EMPTY3
        docs = common[rows]
        dls = decoded[0][2][idxs[0][rows]]
    except PositionOverflow:
        # pathological (>2M-token) docs: per-doc path, same semantics
        hits = [
            (doc, dl, c)
            for doc, dl, per_term in _conjunctive_matches(ordered_tps)
            if (c := _phrase_count([p for _, p in per_term]))
        ]
        if not hits:
            return _EMPTY3
        docs = np.array([h[0] for h in hits], dtype=np.int64)
        dls = np.array([h[1] for h in hits], dtype=np.int64)
        tfs = np.array([h[2] for h in hits], dtype=np.int64)
    return docs, tfs, dls


def phrase_topk(ordered_tps: list[TermPostings], n_docs: int, avg_dl: float,
                k: int, k1: float = BM25_K1, b: float = BM25_B):
    """Exact-phrase top-k → [(ordinal, score)], fully vectorized:
    conjunctive doc intersection, packed-key phrase-start chaining, then
    BM25 with tf = phrase count and df = number of phrase-matching docs."""
    docs, tfs, dls = phrase_match_arrays(ordered_tps)
    if docs.size == 0:
        return []
    df = docs.size
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    # idf·(tf/den), the order the sharded merge applies idf in (it ranks
    # shards by the tf-part and multiplies the global idf in last), so
    # union and sharded phrase scores are bit-identical
    scores = idf * (tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl)))
    top = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in top]


def proximity_match_arrays(tps: list[TermPostings], window: int):
    """→ (doc ordinals, scores) over ALL docs where every term co-occurs
    within ``window`` tokens, scored with the Tesserae distance-weighted
    formula.
    The score has NO corpus-stats dependence, so per-shard top-k merges
    exactly (sharded.py) — this is the shared match primitive."""
    got = _candidate_decoded(tps)
    if got is None:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    decoded, idxs, common = got
    try:
        keys = _row_pos_keys(decoded, idxs, common.size, margin=len(tps))
    except PositionOverflow:
        keys = None  # pathological docs → per-doc path below
    if keys is not None:
        if len(tps) == 2:
            rows, spans = _min_span_2term_vectorized(keys[0], keys[1])
        else:
            rows, spans = _min_cover_span_vectorized(keys)
        keep = spans <= window
        rows, spans = rows[keep], spans[keep]
        if rows.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        inv_f = sum(
            1.0 / decoded[t][1][idxs[t][rows]] for t in range(len(tps))
        )
        scores = np.log(inv_f / np.maximum(spans, 1))
        return common[rows], scores
    scored = []
    for doc, _dl, per_term in _conjunctive_matches(tps):
        d = _min_cover_span([p for _, p in per_term])
        if d < 0 or d > window:
            continue
        inv_f = sum(1.0 / tf for tf, _ in per_term)
        scored.append((doc, math.log(inv_f / max(d, 1))))
    if not scored:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    return (
        np.array([d for d, _ in scored], dtype=np.int64),
        np.array([s for _, s in scored], dtype=np.float64),
    )


def proximity_topk(tps: list[TermPostings], window: int, k: int):
    """Proximity top-k → [(ordinal, score)] with the Tesserae
    distance-weighted score.

    Every arity runs fully vectorized (2-term: adjacent-pair scan; 3+:
    per-term forward-fill cover-span sweep); the per-doc loop remains only
    as the PositionOverflow fallback for pathological >2M-token docs."""
    docs, scores = proximity_match_arrays(tps, window)
    if docs.size == 0:
        return []
    top = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in top]


# ---------------------------------------------------------------------------
# distributed batch mode
# ---------------------------------------------------------------------------


_SEARCHER_CACHE: dict[tuple[str, str], tuple[int, "Searcher"]] = {}


def get_searcher(index_dir: str, lang: str = "en") -> "Searcher":
    """Per-process searcher cache: executor python workers are reused across
    tasks, so the dictionary cache and dataset handles amortize over a
    whole batch instead of being rebuilt per task. Keyed by (dir, lang) so
    a non-en deployment gets a searcher whose analysis chain matches the
    index (the reader/dataset handles are per-searcher; two langs over one
    dir is a test-only shape, not worth sharing the reader). Each entry
    carries the stats.json mtime it was opened at: an in-place rebuild
    (``build_index(..., resume=False)``) rewrites stats.json, so a process
    that outlives it reopens the index instead of serving the old
    dictionary."""
    mtime = os.stat(os.path.join(index_dir, "stats.json")).st_mtime_ns
    ent = _SEARCHER_CACHE.get((index_dir, lang))
    if ent is None or ent[0] != mtime:
        ent = _SEARCHER_CACHE[(index_dir, lang)] = (
            mtime, Searcher(index_dir, lang)
        )
    return ent[1]


# minimum queries per slice in batch mode: below this, extra workers cost
# more in cold caches + pyarrow scans than they buy in parallelism (each
# Python worker keeps its own postings LRU; a 60-query batch on 32 workers
# means 32 cold caches — measured to ANTI-scale from local[2]→local[8])
MIN_QUERIES_PER_SLICE = 16


def affinity_slices(
    queries: list[dict],
    n_slices: int,
    lang: str = "en",
    df: dict[str, int] | None = None,
    terms: list[list[str]] | None = None,
) -> list[list[dict]]:
    """Partition a query batch into ≤ ``n_slices`` slices by TERM AFFINITY:
    queries sharing their heaviest (max-df) term land in the same slice.

    Why (guide §2.3 "shuffle fewer bytes", applied to the python workers'
    decode traffic): each slice's worker decodes the UNION of its queries'
    postings into per-process caches. Contiguous/arbitrary slicing spreads
    every head term across every slice, so a head term's postings decode
    once PER WORKER — measured 24.5M postings decoded for a 2000-query
    Zipf batch at 32 slices where the per-term floor is 0.9M. Anchor-term
    grouping cuts that to ~9M (2.7×) and, because those decoded arrays are
    freshly-touched pages, shrinks exactly the per-worker working set that
    this host's first-touch fault pathology amplifies 10-30× in bad
    windows (OPTIMIZATION_r07.md).

    Queries keep their per-query results bit-identical — slicing only
    decides WHICH worker runs a query, never how it is scored.

    ``df``: term → document frequency (exact, e.g. from a driver-side
    dictionary lookup or sharded phase-1 stats). Without it, the term's
    occurrence count across the batch is the proxy (Zipf head terms are
    frequent in real query logs too).

    ``terms``: each query's analyzed terms, aligned with ``queries`` (what
    ``analyze_query(q["query_text"], lang)`` returns), for a caller that
    has analyzed the batch already; without it the queries are analyzed
    here with ``lang``.

    Balance: greedy LPT over anchor groups with an estimated cost of
    (per-query Σ df) + (group union df); groups costlier than 2× the
    average bin are split first so one hot anchor cannot serialize the
    batch. Deterministic throughout (sorted keys, stable tie-breaks).
    """
    n = len(queries)
    if n == 0 or n_slices <= 1:
        return [list(queries)] if n else []
    qterms = terms if terms is not None else [
        analyze_query(q.get("query_text", ""), lang) for q in queries
    ]
    if df is None:
        from collections import Counter

        df = Counter(t for ts in qterms for t in ts)
    # anchor = heaviest term (deterministic tie-break on the term itself)
    anchors = [
        max(ts, key=lambda t: (df.get(t, 0), t)) if ts else ""
        for ts in qterms
    ]
    groups: dict[str, list[int]] = {}
    for qi, a in enumerate(anchors):
        groups.setdefault(a, []).append(qi)
    qcost = [sum(df.get(t, 0) for t in ts) + 64 for ts in qterms]

    def group_cost(idxs: list[int]) -> int:
        union: set[str] = set()
        for qi in idxs:
            union.update(qterms[qi])
        return sum(qcost[qi] for qi in idxs) + sum(
            df.get(t, 0) for t in union
        )

    glist = [(group_cost(g), a, g) for a, g in groups.items()]
    avg_bin = max(1, sum(c for c, _, _ in glist) // n_slices)
    split: list[tuple[int, str, list[int]]] = []
    for c, a, g in glist:
        if c > 2 * avg_bin and len(g) > 1:
            parts = min(len(g), -(-c // avg_bin))
            for j in range(parts):
                sub = g[j::parts]
                if sub:
                    split.append((group_cost(sub), f"{a}#{j}", sub))
        else:
            split.append((c, a, g))
    split.sort(key=lambda x: (-x[0], x[1]))
    import heapq

    bins: list[list[int]] = [[] for _ in range(n_slices)]
    heap = [(0, i) for i in range(n_slices)]
    heapq.heapify(heap)
    for c, _, g in split:
        w, i = heapq.heappop(heap)
        bins[i].extend(g)
        heapq.heappush(heap, (w + c, i))
    return [[queries[qi] for qi in b] for b in bins if b]


def search_batch(
    spark,
    index_dir: str,
    queries: list[dict],
    k: int = 10,
    lang: str = "en",
):
    """Run many queries distributed over one index → DataFrame(query_id,
    rank, doc_id, score). One index is the one-shard case of the sharded
    executor (Solr serves a single core as a one-shard distributed search
    the same way): same phase-1 stats, affinity slicing, per-slice prefetch
    and per-query scoring, with no cross-shard merge."""
    from tesserae_ng_spark.query.sharded import search_sharded

    return search_sharded(spark, [index_dir], queries, k=k, lang=lang)

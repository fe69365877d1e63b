"""In-memory index construction — pure Python, no Spark.

Builds the SAME TermPostings structures the reader produces, via the
same codec, from raw posting tuples. Postings carry doc ORDINALS (ranks
into a sorted doc list, as in a built index); callers map scorer output
back through their own doc list. Used by property tests (WAND ≡
exhaustive on thousands of random corpora without JVM startup) and by any
embedded/unit use of the query engine.
"""

from __future__ import annotations

import math

import numpy as np

from tesserae_ng_spark.index.codec import (
    delta_encode_ords,
    encode_positions,
    varint_encode,
)
from tesserae_ng_spark.query.reader import TermPostings
from tesserae_ng_spark.schemas import BLOCK_SIZE, BM25_B, BM25_K1


def build_term_postings(
    term: str,
    postings: list[tuple],  # (doc ordinal, tf, dl [, positions])
    n_docs: int,
    avg_dl: float,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> TermPostings:
    postings = sorted(postings, key=lambda p: p[0])
    df = len(postings)
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    pos = [np.asarray(p[3], dtype=np.int64) for p in postings] if len(postings[0]) > 3 else None
    scores = idf * tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl))
    cf = int(tfs.sum())
    starts = np.arange(0, ids.size, block_size, dtype=np.int64)
    ends = np.minimum(starts + block_size, ids.size)
    ids_b, tfs_b, dls_b, pos_b = [], [], [], []
    for start, end in zip(starts, ends):
        sl = slice(int(start), int(end))
        ids_b.append(delta_encode_ords(ids[sl]))
        tfs_b.append(varint_encode(tfs[sl].astype(np.uint64)))
        dls_b.append(varint_encode(dls[sl].astype(np.uint64)))
        pos_b.append(
            encode_positions(pos[sl.start:sl.stop], tfs[sl])
            if pos is not None
            else None
        )
    return TermPostings(
        term, df, cf, float(scores.max()),
        blk_salt=np.zeros(starts.size, dtype=np.int64),
        blk_id=np.arange(starts.size, dtype=np.int64),
        blk_n_docs=ends - starts,
        blk_first=ids[starts],
        blk_last=ids[ends - 1],
        blk_max_score=np.maximum.reduceat(scores, starts),
        blk_max_tf=np.maximum.reduceat(tfs, starts),
        blk_min_dl=np.minimum.reduceat(dls, starts),
        payloads=(ids_b, tfs_b, dls_b, pos_b),
    )


def exhaustive_topk(
    corpus: dict[int, dict[str, int]],  # doc_id -> {term: tf}
    dls: dict[int, int],
    query_terms: list[str],
    k: int,
    avg_dl: float | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> list[tuple[int, float]]:
    """Reference scorer: plain-Python exhaustive BM25 with the engine's
    summation order (sorted terms) and tie-break."""
    n_docs = len(corpus)
    if avg_dl is None:
        avg_dl = sum(dls.values()) / n_docs
    qterms = sorted(set(query_terms))
    dfs = {
        t: sum(1 for d in corpus.values() if t in d) for t in qterms
    }
    out = []
    for doc_id, terms in corpus.items():
        score = 0.0
        hit = False
        for t in qterms:
            tf = terms.get(t)
            if not tf or dfs[t] == 0:
                continue
            hit = True
            idf = math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
            score += idf * tf / (tf + k1 * (1.0 - b + b * dls[doc_id] / avg_dl))
        if hit:
            out.append((doc_id, score))
    out.sort(key=lambda p: (-p[1], p[0]))
    return out[:k]

"""Seeded query streams for the benchmark.

The vocabulary is the built index's own dictionary, ``(term, df)``, so the
streams ask for exactly the terms the engine stores. Two term pickers:

- ``uniform``: every dictionary term is equally likely. Most terms of a
  web-like dictionary are rare, so most queries hit short posting lists
  and few terms repeat (a batch of unrelated lookups).
- ``df``: a term is picked with probability proportional to its df, so
  common terms recur the way they do in a query log.

Both keep the reference query mix of ``tesserae_ng_spark.fixtures``: 40%
one-term, 30% two-term and 15% three-term bm25, 10% phrase and 5%
proximity; every seventh query asks for k in {10, 1, 100}, the rest k=10;
and every batch ends with the four edge queries (head terms, an absent
term, a df=1 term, the single head term). The mix is stratified: every
block of 20 queries holds it exactly, in a seeded order, so a statistic
over a few hundred queries does not move with how many of each shape a
seed happened to draw.
"""

from __future__ import annotations

import numpy as np
import pyarrow.dataset as ds

PICKERS = ("uniform", "df")
# (mode, terms) of one block of 20 queries: the fixtures' 40/30/15/10/5 mix
BLOCK = (
    [("bm25", 1)] * 8 + [("bm25", 2)] * 6 + [("bm25", 3)] * 3
    + [("phrase", 2)] * 2 + [("proximity", 2)]
)
ABSENT_QUERY = "zzqx notinthecorpus vvwy"


def index_vocab(index_dir: str) -> list[tuple[str, int]]:
    """``(term, df)`` of an index's dictionary, sorted by df desc, term."""
    tbl = ds.dataset(f"{index_dir}/dictionary").to_table(columns=["term", "df"])
    vocab = zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist())
    return sorted(((t, int(d)) for t, d in vocab), key=lambda p: (-p[1], p[0]))


class QueryGen:
    """Draws queries from ``vocab`` with the given picker; one RNG per
    generator, so a seed reproduces the whole stream."""

    def __init__(self, vocab: list[tuple[str, int]], picker: str, seed: int):
        if picker not in PICKERS:
            raise ValueError(f"unknown picker {picker!r}")
        self.terms = [t for t, _ in vocab]
        df = np.array([d for _, d in vocab], dtype=np.float64)
        self.p = df / df.sum() if picker == "df" else None
        self.rng = np.random.default_rng(seed)
        self.head = self.terms[0]
        self.singleton = min(vocab, key=lambda p: (p[1], p[0]))[0]
        self._n = 0
        self._block: list[tuple[str, int]] = []

    def _pick(self, m: int) -> str:
        # distinct terms within a query, as the fixtures draw them
        idx = self.rng.choice(len(self.terms), size=m, replace=False, p=self.p)
        return " ".join(self.terms[i] for i in idx)

    def query(self) -> dict:
        i = self._n
        self._n += 1
        k = [10, 1, 100][i % 3] if i % 7 == 0 else 10
        if not self._block:
            self._block = [BLOCK[j] for j in self.rng.permutation(len(BLOCK))]
        mode, m = self._block.pop()
        return dict(query_text=self._pick(m), mode=mode, k=k)

    def batch(self, n: int) -> list[dict]:
        """``n`` queries: ``n - 4`` drawn, then the four edge queries;
        ``query_id`` is the position in the batch."""
        out = [self.query() for _ in range(n - 4)]
        out += [
            dict(query_text=" ".join(self.terms[:3]), mode="bm25", k=10),
            dict(query_text=ABSENT_QUERY, mode="bm25", k=10),
            dict(query_text=self.singleton, mode="bm25", k=10),
            dict(query_text=self.head, mode="bm25", k=10),
        ]
        for i, q in enumerate(out):
            q["query_id"] = i
        return out

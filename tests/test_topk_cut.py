"""The executor's driver cut (``sharded.cut_topk``) against a plain-Python
reference: per query, sort candidates by (score desc, doc_id asc), keep
k_q, and for phrase queries multiply in the idf of the summed match
counts. Pure numpy — no Spark session.

Payloads come in the shape the executor's tasks return them: one per
(shard × query slice), each query in one slice per shard, doc ids disjoint
across shards, scores drawn from a few values so ties are common, and
empty payloads mixed in. The cut must be bit-equal to the reference and
must not depend on payload order (Spark's collect returns partition
order, which follows the task list).
"""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tesserae_ng_spark.query.sharded import cut_topk

N_DOCS = 5000.0


def _payload(rows, matches):
    qid, doc, val, kq = (list(c) for c in zip(*rows)) if rows else ([],) * 4
    return (
        np.array(qid, dtype=np.int64), np.array(doc, dtype=np.int64),
        np.array(val, dtype=np.float64), np.array(kq, dtype=np.int64),
        np.array([q for q, _ in matches], dtype=np.int64),
        np.array([c for _, c in matches], dtype=np.float64),
    )


def _random_payloads(rng, n_shards, n_queries, n_slices):
    ks = rng.choice([1, 10, 100], size=n_queries)
    phrase = rng.random(n_queries) < 0.4
    # few distinct values → many ties, which the doc_id order must break
    levels = rng.random(4) * 3.0
    payloads = []
    for shard in range(n_shards):
        slice_of = rng.integers(0, n_slices, size=n_queries)
        for sl in range(n_slices):
            rows, matches = [], []
            for q in np.flatnonzero(slice_of == sl).tolist():
                # a shard returns at most its k_q best; sometimes none
                n = int(rng.integers(0, min(int(ks[q]), 40) + 1))
                docs = shard + n_shards * rng.choice(10_000, n, replace=False)
                vals = rng.choice(levels, size=n)
                rows += [
                    (q, int(d), float(v), int(ks[q]))
                    for d, v in zip(docs, vals)
                ]
                if phrase[q] and n:
                    matches.append((q, float(n + rng.integers(0, 50))))
            payloads.append(_payload(rows, matches))
        payloads.append(_payload([], []))  # a task with no hits
    return payloads


def _reference(payloads, n_docs):
    cands: dict = {}
    kmap: dict = {}
    matches: dict = {}
    for qid, doc, val, kq, mq, mc in payloads:
        for q, d, v, k in zip(
            qid.tolist(), doc.tolist(), val.tolist(), kq.tolist()
        ):
            cands.setdefault(q, []).append((d, v))
            kmap[q] = k
        for q, c in zip(mq.tolist(), mc.tolist()):
            matches[q] = matches.get(q, 0.0) + c
    rows = []
    for q in sorted(cands):
        top = sorted(cands[q], key=lambda dv: (-dv[1], dv[0]))[: kmap[q]]
        if q in matches:
            df = matches[q]
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            top = [(d, idf * v) for d, v in top]
        rows += [(q, r + 1, d, v.hex()) for r, (d, v) in enumerate(top)]
    return rows


def _rows(out):
    assert out["rank"].dtype == np.int32
    return [
        (q, r, d, v.hex())
        for q, r, d, v in zip(
            out["query_id"].tolist(), out["rank"].tolist(),
            out["doc_id"].tolist(), out["score"].tolist(),
        )
    ]


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_shards=st.integers(min_value=1, max_value=4),
    n_queries=st.integers(min_value=0, max_value=30),
    n_slices=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=200, deadline=None)
def test_cut_matches_reference_in_any_payload_order(
    seed, n_shards, n_queries, n_slices
):
    rng = np.random.default_rng(seed)
    payloads = _random_payloads(rng, n_shards, n_queries, n_slices)
    want = _reference(payloads, N_DOCS)
    assert _rows(cut_topk(payloads, N_DOCS)) == want
    for _ in range(3):
        perm = rng.permutation(len(payloads))
        shuffled = [payloads[i] for i in perm]
        assert _rows(cut_topk(shuffled, N_DOCS)) == want


def test_cut_of_nothing_is_empty_and_typed():
    for payloads in ([], [_payload([], [])] * 3):
        out = cut_topk(payloads, N_DOCS)
        assert _rows(out) == []
        assert [out[c].dtype for c in ("query_id", "doc_id", "score")] == [
            np.int64, np.int64, np.float64,
        ]


def test_cut_ties_and_phrase_idf_by_hand():
    # query 7 (k=2) spans two shards with a three-way tie at 1.5; query 3
    # is a phrase query whose match counts (2 + 3) give df = 5
    a = _payload([(7, 4, 1.5, 2), (7, 2, 0.5, 2), (3, 8, 0.25, 1)], [(3, 2.0)])
    b = _payload([(7, 1, 1.5, 2), (7, 9, 1.5, 2), (3, 5, 0.75, 1)], [(3, 3.0)])
    idf = math.log(1.0 + (N_DOCS - 5.0 + 0.5) / (5.0 + 0.5))
    want = [(3, 1, 5, (idf * 0.75).hex()), (7, 1, 1, 1.5.hex()),
            (7, 2, 4, 1.5.hex())]
    assert _rows(cut_topk([a, b], N_DOCS)) == want
    assert _rows(cut_topk([b, a], N_DOCS)) == want


def test_cut_of_a_100k_query_batch():
    # 10^5 queries × 4 shards at k = 10: the driver-side input is at most
    # Σ shards × Σ_q k_q rows and the cut keeps Σ_q min(k_q, candidates_q)
    n_q, n_shards, k = 100_000, 4, 10
    rng = np.random.default_rng(11)
    levels = rng.random(4) * 3.0
    phrase = rng.random(n_q) < 0.1
    payloads, per_q = [], np.zeros(n_q, dtype=np.int64)
    for shard in range(n_shards):
        n = rng.integers(0, k + 1, size=n_q)  # this shard's candidates
        per_q += n
        qid = np.repeat(np.arange(n_q, dtype=np.int64), n)
        within = np.arange(qid.size) - np.repeat(np.cumsum(n) - n, n)
        doc = shard + n_shards * (qid * (k + 1) + within)  # disjoint
        mq = np.flatnonzero(phrase & (n > 0)).astype(np.int64)
        payloads.append((
            qid, doc, rng.choice(levels, size=qid.size),
            np.full(qid.size, k, dtype=np.int64),
            mq, (n[mq] + rng.integers(0, 50, size=mq.size)).astype(np.float64),
        ))
    assert sum(p[0].size for p in payloads) <= n_shards * n_q * k
    out = cut_topk(payloads, N_DOCS)
    assert out["query_id"].size == int(np.minimum(per_q, k).sum())

    sample = np.sort(rng.choice(n_q, size=300, replace=False))
    sub = []
    for qid, doc, val, kq, mq, mc in payloads:
        r, m = np.isin(qid, sample), np.isin(mq, sample)
        sub.append((qid[r], doc[r], val[r], kq[r], mq[m], mc[m]))
    mine = np.isin(out["query_id"], sample)
    got = _rows({c: a[mine] for c, a in out.items()})
    assert got == _reference(sub, N_DOCS)

"""Property tests for the vectorized dedup primitives (operators/dedup.py).

The minhash/simhash hot paths are whole-batch numpy (no per-row Python) —
these tests pin their STATISTICAL contracts, which survive any internal
hash-function change:
- minhash signature agreement estimates shingle-set Jaccard (Broder 1997)
- banded LSH surfaces planted near-duplicates and skips far pairs
- simhash Hamming distance orders near vs far pairs (Charikar 2002)
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tesserae_ng_spark.operators.dedup import (
    BANDS,
    N_PERM,
    ROWS_PER_BAND,
    batch_minhash_signatures,
    batch_simhash,
    minhash_signature,
    _batch_shingle_hashes,
)


def _shingle_set(text: str, k: int = 3) -> set:
    toks = text.lower().split()
    if len(toks) < k:
        return {tuple(toks)}
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a | b) else 1.0


WORDS = [f"w{i}" for i in range(50)]


@st.composite
def doc_pair(draw):
    n = draw(st.integers(20, 120))
    base = [draw(st.sampled_from(WORDS)) for _ in range(n)]
    # mutate a fraction of tokens to create a controlled near-dup
    n_mut = draw(st.integers(0, n // 2))
    mutated = list(base)
    for _ in range(n_mut):
        i = draw(st.integers(0, n - 1))
        mutated[i] = draw(st.sampled_from(WORDS))
    return " ".join(base), " ".join(mutated)


@settings(max_examples=40, deadline=None)
@given(doc_pair())
def test_minhash_estimates_jaccard(pair):
    a, b = pair
    sig = batch_minhash_signatures(pd.Series([a, b]))
    est = float((sig[0] == sig[1]).mean())
    true = _jaccard(_shingle_set(a), _shingle_set(b))
    # 64 permutations → std error ~ sqrt(j(1-j)/64) ≤ 0.0625; allow 4σ
    assert abs(est - true) <= 0.25


@settings(max_examples=30, deadline=None)
@given(st.lists(st.sampled_from(WORDS), min_size=0, max_size=4))
def test_minhash_short_and_empty_docs(toks):
    text = " ".join(toks)
    sig = batch_minhash_signatures(pd.Series([text, text, None]))
    assert sig.shape == (3, N_PERM)
    # identical docs → identical signatures, even below shingle width
    assert (sig[0] == sig[1]).all()
    # single-doc wrapper agrees with the batch path
    assert minhash_signature(text) == sig[0].tolist()


def test_minhash_batch_equals_per_doc():
    docs = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "a b",
        "",
    ]
    batch = batch_minhash_signatures(pd.Series(docs))
    for i, d in enumerate(docs):
        assert minhash_signature(d) == batch[i].tolist()


def test_shingle_counts_match_docs():
    texts = pd.Series(["a b c d e", "x y", "", "p q r"])
    sh, counts = _batch_shingle_hashes(texts)
    assert counts.tolist() == [3, 1, 1, 1]  # short docs get one padded shingle
    assert sh.size == counts.sum()


def test_lsh_bands_find_planted_neardups(spark, sf_dir, tmp_path):
    """Planted 95%-overlap pairs must surface as LSH candidates with
    jaccard ≥ 0.5; unrelated docs must not pair up."""
    from tesserae_ng_spark.operators.dedup import minhash_lsh_pairs

    rng = np.random.RandomState(7)
    rows = []
    for d in range(30):
        toks = [f"t{rng.randint(0, 400)}" for _ in range(150)]
        rows.append((d * 2, " ".join(toks)))
        near = list(toks)
        for _ in range(5):
            near[rng.randint(0, 150)] = f"t{rng.randint(0, 400)}"
        rows.append((d * 2 + 1, " ".join(near)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "docs.parquet")
    # dedup_minhash_lsh loads `documents` from an sf dir — stage one
    df.write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(spark, str(tmp_path)).collect()
    }
    planted = {(d * 2, d * 2 + 1) for d in range(30)}
    found = len(planted & got)
    assert found >= 27, f"only {found}/30 planted near-dups found"
    # no unrelated pair should pass the exact-Jaccard ≥ 0.5 verification
    assert all((b - a) == 1 and a % 2 == 0 for a, b in got)


def test_bucket_pairs_all_duplicates_bucket(spark):
    """One bucket holding every doc (a mass near-duplicate cluster) yields
    each of its m(m-1)/2 pairs exactly once, oriented a < b; a singleton
    bucket and another band's bucket add only their own pairs."""
    from itertools import combinations

    from tesserae_ng_spark.operators.dedup import bucket_pairs

    rng = np.random.RandomState(3)
    ids = np.arange(40, dtype=np.int64) * 982_451_653 - 10**10  # distinct
    rows = [(0, 7, int(d)) for d in rng.permutation(ids)]
    rows += [(0, 8, 1), (1, 7, int(ids[0])), (1, 7, int(ids[1]))]
    bands = spark.createDataFrame(rows, "band int, bucket int, doc_id long")
    got = [(r["a"], r["b"]) for r in bucket_pairs(bands).collect()]
    hot = list(combinations(sorted(int(d) for d in ids), 2))
    other = [tuple(sorted((int(ids[0]), int(ids[1]))))]
    assert sorted(got) == sorted(hot + other)
    assert all(a < b for a, b in got)


def test_simhash_hamming_orders_similarity():
    near_a = "the quick brown fox jumps over the lazy dog " * 5
    near_b = "the quick brown fox jumps over the lazy cat " * 5
    far = "completely unrelated content about spark shuffles and parquet"
    sh = batch_simhash(pd.Series([near_a, near_b, far]))

    def ham(x, y):
        return bin(int(np.uint64(x) ^ np.uint64(y))).count("1")

    assert ham(sh[0], sh[1]) < ham(sh[0], sh[2])
    assert ham(sh[0], sh[1]) <= 10


def test_simhash_empty_and_null():
    sh = batch_simhash(pd.Series(["", None, "word"]))
    assert sh[0] == 0 and sh[1] == 0 and sh[2] != 0


def test_band_geometry():
    assert BANDS * ROWS_PER_BAND == N_PERM

"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — each over
the `documents` table. Exact + Jaccard are SQL-checkable; the hash-family
ops (MinHash/SimHash) use engine-internal hash functions with no DuckDB
equivalent → rows-only checks + pytest property tests (tests/test_dedup.py).

Scale notes: every variant is a groupBy/join on a bounded-width key —
shuffle volume is O(signatures), not O(pairs). The LSH band join only
materializes candidate pairs that share a band bucket (Broder 1997;
Leskovec et al., Mining of Massive Datasets ch.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesserae_ng_spark.operators import register
from tesserae_ng_spark.operators.common import TOKS_CTE, t

N_PERM = 64  # minhash permutations
BANDS = 16  # 16 bands × 4 rows — catches jaccard ≳ 0.5 pairs
ROWS_PER_BAND = N_PERM // BANDS
_MIX = np.uint64(0x9E3779B97F4A7C15)  # odd (golden-ratio) polynomial base


def _minhash_params():
    # deterministic affine permutations mod 2^64: x -> a*x + b with a ODD is
    # a bijection on uint64 (a unit in Z/2^64) — a true permutation family,
    # and native-vectorizable (uint64 wraparound, no bignum/object dtype).
    rng = np.random.RandomState(42)
    a = rng.randint(0, 1 << 62, size=N_PERM, dtype=np.int64).astype(np.uint64)
    a = a * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 1 << 62, size=N_PERM, dtype=np.int64).astype(np.uint64)
    return a, b


_MINHASH_A, _MINHASH_B = _minhash_params()


def _flat_token_hashes(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Whole-batch tokenize + hash: ONE vectorized pass, no per-char Python.

    Returns (flat uint64 token hashes in doc order, per-doc token counts).
    Hashing is pandas' Cython-vectorized string hash (stable key) over the
    batch's full flattened token array.
    """
    from itertools import chain

    toks = texts.fillna("").str.lower().str.split()
    counts = toks.str.len().to_numpy(dtype=np.int64)
    n = int(counts.sum())
    flat = np.fromiter(chain.from_iterable(toks), dtype=object, count=n)
    hashes = pd.util.hash_array(flat) if n else np.empty(0, dtype=np.uint64)
    return hashes, counts


def _batch_shingle_hashes(
    texts: pd.Series, k: int = 3
) -> tuple[np.ndarray, np.ndarray]:
    """k-token shingle hashes for a whole batch, vectorized.

    Shingle hash = degree-(k-1) polynomial in the token hashes over Z/2^64
    (odd base → information from every token survives the wraparound).
    Docs shorter than k tokens get one degenerate shingle (their padded
    polynomial), so every doc has ≥1 shingle.
    Returns (flat shingle hashes grouped by doc, per-doc shingle counts).
    """
    h, counts = _flat_token_hashes(texts)
    n_docs = counts.size
    doc_of = np.repeat(np.arange(n_docs), counts)
    # polynomial over every global window of k consecutive token hashes
    if h.size >= k:
        win = h[: h.size - k + 1].copy()
        for j in range(1, k):
            win = win * _MIX + h[j : h.size - k + j + 1]
        valid = doc_of[: h.size - k + 1] == doc_of[k - 1 :]
        sh = win[valid]
        sh_doc = doc_of[: h.size - k + 1][valid]
        sh_counts = np.bincount(sh_doc, minlength=n_docs)
    else:
        sh = np.empty(0, dtype=np.uint64)
        sh_counts = np.zeros(n_docs, dtype=np.int64)
    short = np.flatnonzero(sh_counts == 0)
    if short.size:
        # rare short docs: one padded shingle each (tiny loop over docs,
        # bounded by the batch's short-doc count, not by tokens)
        starts = np.concatenate(([0], np.cumsum(counts)))
        extras = np.empty(short.size, dtype=np.uint64)
        with np.errstate(over="ignore"):  # uint64 wraparound is the intent
            for i, d in enumerate(short):
                hs = h[starts[d] : starts[d + 1]]
                acc = np.uint64(0)
                for j in range(k):
                    acc = acc * _MIX + (hs[j] if j < hs.size else np.uint64(0))
                extras[i] = acc
        # merge: rebuild in doc order — vectorized scatter (each existing
        # shingle shifts right by the number of short docs before its doc)
        new_counts = sh_counts.copy()
        new_counts[short] = 1
        out = np.empty(int(new_counts.sum()), dtype=np.uint64)
        new_starts = np.cumsum(new_counts) - new_counts
        old_starts = np.cumsum(sh_counts) - sh_counts
        has = sh_counts > 0
        shift = np.repeat(
            new_starts[has] - old_starts[has], sh_counts[has]
        )
        out[np.arange(sh.size, dtype=np.int64) + shift] = sh
        out[new_starts[short]] = extras
        return out, new_counts
    return sh, sh_counts


def batch_minhash_signatures(texts: pd.Series) -> np.ndarray:
    """(n_docs, N_PERM) int64 minhash signatures for a whole Arrow batch.

    Per permutation j: sig[d, j] = min over d's shingles of (a_j*x + b_j)
    mod 2^64 — one uint64 multiply-add plus a segmented min
    (np.minimum.reduceat) per permutation. No Python below doc granularity.
    """
    sh, sh_counts = _batch_shingle_hashes(texts)
    n_docs = sh_counts.size
    sig = np.empty((n_docs, N_PERM), dtype=np.uint64)
    if n_docs == 0:
        return sig.view(np.int64)
    seg_starts = np.concatenate(([0], np.cumsum(sh_counts)))[:-1]
    for j in range(N_PERM):
        vals = sh * _MINHASH_A[j] + _MINHASH_B[j]
        sig[:, j] = np.minimum.reduceat(vals, seg_starts)
    return sig.view(np.int64)


def minhash_signature(text: str) -> list[int]:
    """Single-doc convenience wrapper (tests / interactive use)."""
    return batch_minhash_signatures(pd.Series([text]))[0].tolist()


@register(
    "dedup_exact",
    """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents)
       SELECT h AS content_hash, CAST(min(doc_id) AS BIGINT) AS keeper,
              CAST(count(*) AS BIGINT) AS n_copies
       FROM h GROUP BY h""",
)
def dedup_exact(spark, sf):
    # exact dedup: hash-groupBy on md5(text), keep lowest doc_id.
    # At 100 TB: map-side partial agg on the 16-byte hash → tiny shuffle.
    return (
        t(spark, sf, "documents")
        .select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_copies"),
        )
    )


def bucket_pairs(bands):
    """(band, bucket, doc_id) rows → one (a, b) row, a < b, per pair of
    docs sharing a bucket (a pair sharing several bands repeats once per
    band; callers take ``distinct``).

    ONE groupBy + in-bucket expansion instead of the former band self-join
    (r7, guide §4.4/§2.4): the self-join evaluated the minhash UDF on BOTH
    branches and shuffled the bands table twice. Each bucket's sorted doc
    list pairs PER ELEMENT: ``posexplode`` gives every doc its own row,
    which pairs with the docs after it (``slice(ids, pos + 2, …)``), so no
    row holds more than O(m) pairs of an m-doc bucket — building all
    m(m−1)/2 pair structs inside one row concentrated a hot bucket's
    O(m²) memory in a single expression."""
    return (
        bands.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("pos", "a"))
        .select(
            "a", F.explode(F.expr("slice(ids, pos + 2, size(ids))")).alias("b")
        )
    )


def minhash_lsh_pairs(spark, sf):
    """MinHash+LSH near-dup candidate pairs with exact-Jaccard verification.

    shingle → 64-perm minhash (pandas UDF) → band buckets → self-join on
    (band, bucket) → exact token-set Jaccard on candidates only.
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(text: pd.Series) -> pd.Series:
        return pd.Series(list(batch_minhash_signatures(text)))

    docs = t(spark, sf, "documents").select("doc_id", "text")
    sigs = docs.select("doc_id", _sig("text").alias("sig"))
    # band buckets: hash each band's slice
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.hash(
                        F.slice("sig", i * ROWS_PER_BAND + 1, ROWS_PER_BAND).cast(
                            "string"
                        )
                    )
                    for i in range(BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    cand = bucket_pairs(bands).distinct()
    # exact verify on candidates only (token-set Jaccard ≥ 0.5)
    tok_sets = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("terms"),
    )
    av = tok_sets.select(F.col("doc_id").alias("a"), F.col("terms").alias("ta"))
    bv = tok_sets.select(F.col("doc_id").alias("b"), F.col("terms").alias("tb"))
    return (
        cand.join(av, "a")
        .join(bv, "b")
        .select(
            "a",
            "b",
            F.round(
                F.size(F.array_intersect("ta", "tb"))
                / F.size(F.array_union("ta", "tb")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def batch_simhash(texts: pd.Series) -> np.ndarray:
    """(n_docs,) int64 SimHash (Charikar 2002) for a whole Arrow batch.

    Vectorized end-to-end: one hash_array call over the batch's flattened
    tokens, unpackbits to a (n_tokens, 64) ±1 matrix, per-doc column sums
    via np.add.reduceat, sign → packed 64-bit fingerprint. Empty docs → 0.
    """
    h, counts = _flat_token_hashes(texts)
    n_docs = counts.size
    out = np.zeros(n_docs, dtype=np.uint64)
    if h.size == 0:
        return out.view(np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    # empty docs contribute no tokens, so the next non-empty doc's start is
    # identical — dropping empty docs' starts leaves exactly the non-empty
    # segment boundaries reduceat needs (all < h.size).
    nonempty = counts > 0
    ne_starts = starts[nonempty]
    ne_counts = counts[nonempty]
    # per-bit loop (64 iterations over n_tokens-sized buffers) instead of a
    # materialized (n_tokens, 64) ±1 matrix: bounded working set, and the
    # sign test `sum(±1) > 0` == `2*ones - n_tokens > 0` needs only the
    # per-doc ones-count of each bit column.
    fp = np.zeros(ne_counts.size, dtype=np.uint64)
    for b in range(64):
        ones = np.add.reduceat((h >> np.uint64(b)) & np.uint64(1), ne_starts)
        fp |= ((2 * ones > ne_counts.astype(np.uint64))).astype(np.uint64) << np.uint64(b)
    out[nonempty] = fp
    return out.view(np.int64)


def simhash_table(spark, sf):
    """64-bit SimHash per doc (Charikar 2002): sign of the weighted sum of
    term-hash bit vectors. Near-dups differ in few bits (Hamming ≤ 3)."""

    @F.pandas_udf(T.LongType())
    def _simhash(text: pd.Series) -> pd.Series:
        return pd.Series(batch_simhash(text))

    return t(spark, sf, "documents").select(
        "doc_id", _simhash("text").alias("simhash")
    )


@register("dedup_minhash_lsh", None)  # engine-hash-based → rows-only check
def dedup_minhash_lsh(spark, sf):
    """Hash-family dedup in one driver key (50-key cap; SURVEY.md §2 map):
      variant='minhash_pair' — LSH candidate pairs + exact-Jaccard verify
        (id_a, id_b, v = jaccard)
      variant='simhash'      — per-doc 64-bit fingerprint (dedup_simhash;
        id_a = doc_id, v = fingerprint)
    Both are engine-hash-defined (no SQL analog) → rows-only check; the
    statistical contracts live in tests/test_dedup.py."""
    pairs = minhash_lsh_pairs(spark, sf).select(
        F.lit("minhash_pair").alias("variant"),
        F.col("a").alias("id_a"),
        F.col("b").alias("id_b"),
        F.col("jaccard").cast("string").alias("v"),
    )
    sh = simhash_table(spark, sf).select(
        F.lit("simhash").alias("variant"),
        F.col("doc_id").alias("id_a"),
        F.lit(0).cast("long").alias("id_b"),
        F.col("simhash").cast("string").alias("v"),
    )
    return pairs.unionByName(sh)


@register(
    "ngram_jaccard",
    f"""WITH {TOKS_CTE},
       tri AS (
         SELECT DISTINCT a.doc_id AS doc_id,
                a.term || ' ' || b.term || ' ' || c.term AS tri
         FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                     JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY doc_id),
       pairs AS (
         SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
         FROM tri x JOIN tri y ON x.tri = y.tri AND x.doc_id < y.doc_id
         WHERE x.doc_id < 20 AND y.doc_id < 20
         GROUP BY x.doc_id, y.doc_id)
       SELECT pairs.a AS a, pairs.b AS b,
              ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
       FROM pairs JOIN sizes sa ON pairs.a = sa.doc_id
                  JOIN sizes sb ON pairs.b = sb.doc_id""",
)
def ngram_jaccard(spark, sf):
    # exact 3-gram Jaccard between doc pairs (bounded to doc_id < 20 —
    # pairwise Jaccard is a verification tool, not a sweep; the sweep path
    # is minhash LSH above).
    from tesserae_ng_spark.operators.common import tokens_df

    toks = tokens_df(spark, sf)
    a_, b_, c_ = toks.alias("a"), toks.alias("b"), toks.alias("c")
    tri = (
        a_.join(
            b_,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .join(
            c_,
            (F.col("a.doc_id") == F.col("c.doc_id"))
            & (F.col("c.pos") == F.col("a.pos") + 2),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.concat_ws(" ", "a.term", "b.term", "c.term").alias("tri"),
        )
        .distinct()
    )
    sizes = tri.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = tri.alias("x"), tri.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.tri") == F.col("y.tri"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter((F.col("x.doc_id") < 20) & (F.col("y.doc_id") < 20))
        .groupBy(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )

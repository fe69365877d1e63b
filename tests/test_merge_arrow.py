"""merge_batch_arrow ≡ merge_group_reference, byte-for-byte.

The Arrow batch merge is the production stage-B body; the per-group
pandas function is its spec. Equivalence must hold to the BIT on
block_max_score (idf via math.log per group) and to the BYTE on every
encoded payload — the reader, WAND bounds, and the resume/checkpoint
story all assume the merge output is a pure function of its input.
"""

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from tesserae_ng_spark.index.codec import delta_decode_ids
from tesserae_ng_spark.index.encode import encode_term_group
from tesserae_ng_spark.index.merge import (
    merge_batch_arrow,
    merge_group_reference,
    salt_np,
)

N_DOCS = 1000
AVG_DL = 57.3


def _shard_blocks(rng, terms, docs_per_term, with_pos, shard_block=16):
    """Build realistic routed-merge input rows: per term, postings split
    across 2 'shards', each encoded into shard blocks, joined with
    (df, nsalt) and exploded per covering salt — the exact shape
    merge_shard_blocks feeds its groups."""
    rows = []
    for t_i, term in enumerate(terms):
        n = docs_per_term[t_i]
        ids = np.sort(
            rng.choice(
                np.arange(-(10**12), 10**12, 10**7), size=n, replace=False
            )
        )
        tfs = rng.randint(1, 6, size=n)
        dls = rng.randint(10, 300, size=n)
        df_t = n
        nsalt = max(1, n // 24)
        # split into two shards by parity, encode each
        for sh in (0, 1):
            m = np.arange(n) % 2 == sh
            if not m.any():
                continue
            recs = []
            for d, tf, dl in zip(ids[m], tfs[m], dls[m]):
                pos = (
                    bytes(rng.randint(0, 127, size=tf).astype(np.uint8))
                    if with_pos
                    else None
                )
                recs.append((term, int(d), int(tf), pos, int(dl)))
            pdf = pd.DataFrame(
                recs, columns=["term", "doc_id", "tf", "positions", "dl"]
            )
            blocks = encode_term_group(pdf, shard_block)
            for _, r in blocks.iterrows():
                lo = salt_np(
                    np.array([r["block_first_doc"]]), nsalt
                )[0]
                hi = salt_np(np.array([r["block_last_doc"]]), nsalt)[0]
                for salt in range(int(lo), int(hi) + 1):
                    rows.append(
                        {
                            "term": r["term"],
                            "block_id": r["block_id"],
                            "n_docs": r["n_docs"],
                            "tf_sum": r["tf_sum"],
                            "block_first_doc": r["block_first_doc"],
                            "block_last_doc": r["block_last_doc"],
                            "doc_ids": bytes(r["doc_ids"]),
                            "tfs": bytes(r["tfs"]),
                            "dls": bytes(r["dls"]),
                            "positions": (
                                bytes(r["positions"]) if with_pos else None
                            ),
                            "df": df_t,
                            "cf": int(tfs.sum()),
                            "nsalt": nsalt,
                            "salt": salt,
                        }
                    )
    out = pd.DataFrame(rows)
    return out.sort_values(
        ["term", "salt"], kind="mergesort"
    ).reset_index(drop=True)


def _doc_list(routed: pd.DataFrame) -> np.ndarray:
    """The index's sorted, unique doc ids: every doc of the stage-A blocks
    (the merge writes each posting's rank in this list)."""
    return np.unique(np.concatenate(
        [delta_decode_ids(bytes(b)) for b in routed["doc_ids"]]
    ))


def _canon(df: pd.DataFrame) -> list[tuple]:
    cols = [
        "term", "salt", "block_id", "n_docs", "block_first_doc",
        "block_last_doc", "block_max_score", "block_max_tf",
        "block_min_dl", "doc_ids", "tfs", "dls", "positions",
    ]
    out = []
    for _, r in df.iterrows():
        row = []
        for c in cols:
            v = r[c]
            if isinstance(v, (bytes, bytearray)):
                v = bytes(v)
            elif isinstance(v, float):
                # BIT comparison for the score
                v = v.hex()
            elif v is None or (isinstance(v, float) and math.isnan(v)):
                v = None
            else:
                v = int(v) if not isinstance(v, str) else v
            row.append(v)
        out.append(tuple(row))
    return sorted(out, key=lambda x: (x[0], x[1], x[2]))


@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.booleans(),
    st.sampled_from([8, 128]),
)
@settings(max_examples=15, deadline=None)
def test_merge_arrow_equals_reference(seed, with_pos, block_size):
    rng = np.random.RandomState(seed)
    nterms = rng.randint(1, 5)
    terms = [f"t{chr(97 + i)}" for i in range(nterms)]
    docs_per_term = [int(rng.randint(1, 120)) for _ in range(nterms)]
    routed = _shard_blocks(rng, terms, docs_per_term, with_pos)
    docs = _doc_list(routed)

    want = pd.concat(
        [
            merge_group_reference(
                g, N_DOCS, AVG_DL, docs, block_size=block_size
            )
            for _, g in routed.groupby(["term", "salt"], sort=True)
        ],
        ignore_index=True,
    )
    got_rb = merge_batch_arrow(
        pa.Table.from_pandas(routed, preserve_index=False),
        float(N_DOCS),
        AVG_DL,
        docs,
        block_size=block_size,
    )
    got = got_rb.to_pandas() if got_rb is not None else pd.DataFrame(
        columns=want.columns
    )
    assert _canon(got) == _canon(want)


def test_merge_arrow_slice_offset():
    """The runner's carry hands merge_batch_arrow SLICED tables; offsets
    into binary buffers must honor the slice."""
    rng = np.random.RandomState(3)
    routed = _shard_blocks(rng, ["aa", "bb", "cc"], [40, 60, 30], True)
    docs = _doc_list(routed)
    tbl = pa.Table.from_pandas(routed, preserve_index=False)
    # slice at a (term, salt) group boundary: first group's row count
    g0 = (routed["term"] == routed["term"].iloc[0]) & (
        routed["salt"] == routed["salt"].iloc[0]
    )
    cut = int(g0.sum())
    want = pd.concat(
        [
            merge_group_reference(g, N_DOCS, AVG_DL, docs)
            for _, g in routed.iloc[cut:].groupby(
                ["term", "salt"], sort=True
            )
        ],
        ignore_index=True,
    )
    got = merge_batch_arrow(
        tbl.slice(cut), float(N_DOCS), AVG_DL, docs
    ).to_pandas()
    assert _canon(got) == _canon(want)


def test_merge_rejects_doc_missing_from_doc_list():
    """A posting whose doc id is not in the index's doc list has no
    ordinal: both merges fail instead of writing a wrong rank."""
    import pytest

    rng = np.random.RandomState(4)
    routed = _shard_blocks(rng, ["aa", "bb"], [30, 50], False)
    short = np.delete(_doc_list(routed), 7)
    with pytest.raises(RuntimeError, match="postings/docs mismatch"):
        merge_batch_arrow(
            pa.Table.from_pandas(routed, preserve_index=False),
            float(N_DOCS), AVG_DL, short,
        )
    with pytest.raises(RuntimeError, match="postings/docs mismatch"):
        for _, g in routed.groupby(["term", "salt"], sort=True):
            merge_group_reference(g, N_DOCS, AVG_DL, short)


def test_merge_chunking_invariant(spark, monkeypatch):
    """The merge's grouped map re-chunks batches at group boundaries
    (MERGE_BATCH_MAX_ROWS); results must be independent of the chunk
    bound (the sf0.001 e2e suite never exceeds the production bound, so
    pin it explicitly with a tiny one)."""
    import pandas as pd

    from tesserae_ng_spark.index import merge as M
    from tesserae_ng_spark.index.encode import SHARD_BLOCK_SCHEMA

    rng = np.random.RandomState(5)
    routed = _shard_blocks(
        rng, [f"t{i:02d}" for i in range(12)],
        [int(rng.randint(5, 90)) for _ in range(12)], True,
    )
    shard_cols = [f.name for f in SHARD_BLOCK_SCHEMA]
    # _shard_blocks emits one row per covering salt; merge_shard_blocks
    # does its own salt routing, so feed it the UN-exploded blocks
    # ((term, block_id, first_doc) is unique across the two shards)
    blocks_only = routed.drop_duplicates(
        subset=["term", "block_id", "block_first_doc"]
    )
    sdf = spark.createDataFrame(blocks_only[shard_cols], SHARD_BLOCK_SCHEMA)

    def run(max_rows):
        monkeypatch.setattr(M, "MERGE_BATCH_MAX_ROWS", max_rows)
        out = M.merge_shard_blocks(
            sdf, n_docs=N_DOCS, avg_dl=AVG_DL,
            target_postings_per_salt=24, block_size=8, n_buckets=3,
            docs=_doc_list(blocks_only),
        ).collect()
        return sorted(
            (
                r["term"], r["salt"], r["block_id"], r["n_docs"],
                r["block_first_doc"], r["block_last_doc"],
                r["block_max_score"].hex(), r["block_max_tf"],
                r["block_min_dl"], bytes(r["doc_ids"]), bytes(r["tfs"]),
                bytes(r["dls"]),
                bytes(r["positions"]) if r["positions"] is not None else None,
            )
            for r in out
        )

    tiny = run(3)       # many chunks, incl. single-group oversize chunks
    huge = run(10**9)   # one call per complete-groups frame
    assert tiny == huge and len(tiny) > 10

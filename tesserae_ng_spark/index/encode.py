"""Stage A block encoding: keyed postings → compressed block rows.

Runs inside the build's one stage-A pass (index/builder.py
``_stage_a``): each input partition's (key, term, doc_id, tf, dl,
positions) postings are sorted by (key, term, doc_id) and encoded into
128-doc blocks (delta+varint; index/codec.py) by a partition-local
``mapInArrow`` — no exchange and no per-row Python
(``encode_blocks_local``). The key names the part or shard a row's
stage-A output belongs to.

Shard blocks carry tf/dl but NO scores: idf needs global df, which only
exists after all shards are built — stage B (index/merge.py) attaches
scores and block-max metadata during the merge.

Scale note: a term fragment is bounded by ``ENCODE_BUFFER_ROWS``, the
per-worker sort buffer; the global head-term problem is handled by the
salted merge, not here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tesserae_ng_spark.index.codec import (
    delta_encode_ids,
    expand_segment_values,
    to_u64,
    varint_encode,
    varint_encode_lengths,
)
from tesserae_ng_spark.schemas import BLOCK_SIZE

# per-worker row bound for stage A's sort buffer (see encode_blocks_local)
ENCODE_BUFFER_ROWS = 2_000_000

SHARD_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("tf_sum", T.LongType(), False),
        T.StructField("block_first_doc", T.LongType(), False),
        T.StructField("block_last_doc", T.LongType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), True),
    ]
)


def encode_term_group(pdf: pd.DataFrame, block_size: int = BLOCK_SIZE) -> pd.DataFrame:
    """One term's shard postings → block rows. Pure function (testable).

    ``positions`` arrives as per-posting varint byte slices (already in the
    final stream layout — build.py sliced them JVM-side), so a block's
    positions column is a plain byte join: no numeric re-encode.
    """
    pdf = pdf.sort_values("doc_id", kind="mergesort")
    term = pdf["term"].iloc[0]
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["dl"].to_numpy(dtype=np.int64)
    pos_col = pdf["positions"]
    has_pos = pos_col.iloc[0] is not None if len(pdf) else False
    pos_chunks = pos_col.tolist() if has_pos else None
    rows = []
    for b, start in enumerate(range(0, len(pdf), block_size)):
        sl = slice(start, min(start + block_size, len(pdf)))
        ids, tf_b, dl_b = doc_ids[sl], tfs[sl], dls[sl]
        rows.append(
            {
                "term": term,
                "block_id": b,
                "n_docs": len(ids),
                "tf_sum": int(tf_b.sum()),
                "block_first_doc": int(ids[0]),
                "block_last_doc": int(ids[-1]),
                "doc_ids": delta_encode_ids(ids),
                "tfs": varint_encode(tf_b.astype(np.uint64)),
                "dls": varint_encode(dl_b.astype(np.uint64)),
                "positions": (
                    b"".join(bytes(c) for c in pos_chunks[sl.start : sl.stop])
                    if has_pos
                    else None
                ),
            }
        )
    return pd.DataFrame(rows)


def encode_batch_arrow(tbl, block_size: int = BLOCK_SIZE):
    """Arrow-native encode of a table of COMPLETE term groups, rows sorted
    by (term, doc_id) → one output RecordBatch of block rows (or None).

    Byte-identical to per-group encode_term_group (pinned in
    tests/test_codec.py) but with ZERO per-row Python objects: group
    boundaries come from a C-side
    dictionary-encode, numeric columns cross as numpy views, the
    positions column is sliced by offset math against its Arrow data
    buffer (per-row position streams are contiguous in row order, so a
    block's positions are one buffer slice — the output array SHARES the
    input data buffer), and the three varint columns are each ONE
    whole-batch encode whose per-value byte lengths yield per-block
    offsets for a zero-copy from_buffers binary array. Materializing 17M
    per-row bytes objects through pandas was ~2/3 of the stage wall."""
    import pyarrow as pa

    tbl = tbl.combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return None
    term = tbl.column("term").combine_chunks()
    codes = term.dictionary_encode().indices.to_numpy(zero_copy_only=False)
    ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    tfs = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
    dls = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)

    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = codes[1:] != codes[:-1]
    group_starts = np.flatnonzero(change).astype(np.int64)
    row_gs = expand_segment_values(group_starts, group_starts, n)
    rank = np.arange(n, dtype=np.int64) - row_gs
    block_starts = np.flatnonzero(rank % block_size == 0).astype(np.int64)
    block_ends = np.append(block_starts[1:], n)
    nblocks = block_starts.size
    bnd = np.append(block_starts, n)  # n+1-ish boundary index vector

    u = to_u64(ids)
    deltas = np.empty_like(u)
    deltas[0] = u[0]
    deltas[1:] = u[1:] - u[:-1]
    deltas[block_starts] = u[block_starts]

    def _binary(buf: bytes, lens: np.ndarray) -> pa.Array:
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        bo = off[bnd]
        assert bo[-1] <= np.iinfo(np.int32).max, "batch binary > 2 GiB"
        return pa.Array.from_buffers(
            pa.binary(),
            nblocks,
            [None, pa.py_buffer(bo.astype(np.int32).tobytes()),
             pa.py_buffer(buf)],
        )

    id_arr = _binary(*varint_encode_lengths(deltas))
    tf_arr = _binary(*varint_encode_lengths(tfs.astype(np.uint64)))
    dl_arr = _binary(*varint_encode_lengths(dls.astype(np.uint64)))

    pos = tbl.column("positions").combine_chunks()
    if pos.null_count >= n:
        pos_arr = pa.nulls(nblocks, pa.binary())
    else:
        if pos.null_count:
            # mixed positional/non-positional rows (not a real build shape)
            pos = pos.fill_null(b"").combine_chunks()
        pbufs = pos.buffers()
        # value offsets honor the array's own slice offset
        roff = np.frombuffer(
            pbufs[1], dtype=np.int32, count=n + 1 + pos.offset
        )[pos.offset:]
        pos_arr = pa.Array.from_buffers(
            pa.binary(),
            nblocks,
            [None, pa.py_buffer(roff[bnd].astype(np.int32).tobytes()),
             pbufs[2]],
        )

    return pa.RecordBatch.from_arrays(
        [
            term.take(pa.array(block_starts, pa.int64())),
            pa.array((rank[block_starts] // block_size).astype(np.int32)),
            pa.array((block_ends - block_starts).astype(np.int32)),
            pa.array(np.add.reduceat(tfs, block_starts).astype(np.int64)),
            pa.array(ids[block_starts]),
            pa.array(ids[block_ends - 1]),
            id_arr,
            tf_arr,
            dl_arr,
            pos_arr,
        ],
        names=[f.name for f in SHARD_BLOCK_SCHEMA],
    )


KEYED_BLOCK_SCHEMA = T.StructType(
    [T.StructField("key", T.IntegerType(), False), *SHARD_BLOCK_SCHEMA.fields]
)


def encode_keyed_batch(tbl, block_size: int = BLOCK_SIZE):
    """Arrow batch of complete (key, term) groups → block rows + key.

    Thin fan-out over ``encode_batch_arrow``: slice the batch at key
    boundaries (a handful per batch — keys ≪ terms) and encode each
    slice with ``encode_batch_arrow``, so every key's block bytes come
    from the same code path.
    """
    import pyarrow as pa

    n = tbl.num_rows
    if n == 0:
        return None
    key = tbl.column("key").combine_chunks().to_numpy(zero_copy_only=False)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = key[1:] != key[:-1]
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    outs = []
    for s, e in zip(starts, ends):
        rb = encode_batch_arrow(tbl.slice(s, e - s), block_size)
        if rb is None or rb.num_rows == 0:
            continue
        outs.append(
            pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.full(rb.num_rows, key[s], dtype=np.int32),
                        pa.int32(),
                    ),
                    *rb.columns,
                ],
                names=["key", *rb.schema.names],
            )
        )
    if not outs:
        return None
    if len(outs) == 1:
        return outs[0]
    t = pa.Table.from_batches(outs).combine_chunks()
    return t.to_batches()[0]


def encode_blocks_local(
    term_doc_dl: DataFrame,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """Partition-LOCAL block encode: ZERO exchange.

    Input rows are (key, term, doc_id, tf, positions, dl); ``key`` is the
    stage-A output the row belongs to (index/builder.py ``_stage_a``: a
    part of a union index or a shard). The output is KEYED_BLOCK_SCHEMA.

    Why stage A needs no term shuffle: stage B (index/merge.py) fully
    decodes, lexsorts, and re-encodes every (term, salt) group anyway —
    block-grouping by term across partitions buys the final index
    nothing. Stage A's only real job is COMPRESSING the rows the merge's
    exchange will move. So: accumulate each input partition in the Arrow
    worker, numpy-lexsort by (key, term, doc_id) (5-10x cheaper than the
    JVM row sort, and the sort is the one build body that does NOT scale
    with cores), then batch-encode per-partition term fragments. The
    merge's exchange then moves delta+varint blocks instead of raw
    posting rows (~3-5x fewer bytes), and the build has exactly ONE wide
    exchange end to end.

    Fragmentation is bounded and harmless: one block row per
    (partition, key, term) per ``block_size`` docs; because fragments
    are doc_id-sorted runs, their doc ranges stay tight, so the merge's
    salt-straddle routing stays ~1 salt per fragment even for head
    terms. Final index bytes are IDENTICAL to encoding complete term
    groups (the merge's output is invariant to input block fragmentation
    — pinned in tests/test_merge_arrow.py and tests/test_build_e2e.py).

    ``ENCODE_BUFFER_ROWS`` bounds the per-worker accumulation: the
    buffer's lexsort working set (~24 B/row keys + index) is the build's
    one non-streaming body, so the bound caps each call's transient
    arrays whatever the partition size. A larger partition is encoded in
    several sorted chunks, which only adds fragments; final index bytes
    are invariant to the bound.
    """
    max_rows = ENCODE_BUFFER_ROWS

    def runner(batches):
        import pyarrow as pa

        buf, rows = [], 0

        def flush():
            nonlocal buf, rows
            if not rows:
                return
            t = (
                pa.concat_tables(
                    [pa.Table.from_batches([b]) for b in buf]
                ).combine_chunks()
                if len(buf) > 1
                else pa.Table.from_batches([buf[0]])
            )
            buf, rows = [], 0
            rb = encode_keyed_batch(_sorted_keyed_table(t), block_size)
            if rb is not None and rb.num_rows:
                yield rb

        for rb in batches:
            buf.append(rb)
            rows += rb.num_rows
            if rows >= max_rows:
                yield from flush()
        yield from flush()

    return term_doc_dl.mapInArrow(runner, KEYED_BLOCK_SCHEMA)


def _sorted_keyed_table(t):
    """Stable in-worker sort by (key, term, doc_id) via numpy lexsort over
    C-side dictionary codes (term group ORDER is first-appearance — the
    merge re-groups by hash, so only contiguity matters)."""
    t = t.combine_chunks()
    codes = (
        t.column("term").combine_chunks().dictionary_encode().indices
        .to_numpy(zero_copy_only=False)
    )
    ids = t.column("doc_id").to_numpy(zero_copy_only=False)
    keys = t.column("key").to_numpy(zero_copy_only=False)
    return t.take(np.lexsort((ids, codes, keys)))

"""Stage B: salted external merge of shard blocks → final scored postings.

The skew-critical exchange (SURVEY.md §2.11 `salted_repartition_sort` +
`external_merge`). Head terms (Zipf: df("the") can be ~N at web scale)
would hot-spot a single reducer if the merge grouped by term alone, so the
merge key is (term, salt) where

    salt(doc) = (b32 * nsalt(term)) >> 32,   b32 = u64(doc_id) >> 32

i.e. contiguous doc-id RANGE buckets (integer-exact, identical in Spark SQL
and numpy). doc_id = xxhash64(url) is uniform over int64, so ranges are
balanced by construction, and because salts are ordered by doc range the
merged sub-lists concatenate in global docID order — the final per-term
posting stream is (salt asc, block_id asc), no k-way merge across salts
needed at query time.

nsalt(term) = ceil(df / target_postings_per_salt), so only head terms
split; the tail (nsalt=1) shuffles exactly once with no amplification.
Shard blocks whose [first_doc, last_doc] straddles a salt boundary are
routed to EVERY covering salt (sequence-explode) and each group filters
decoded postings to its own range — merge groups stay disjoint and
memory-bounded (≤ target postings) regardless of term df.

df/cf are computed from block METADATA (sum of n_docs / tf_sum per term)
— exact, no decode: each (term, doc) lives in exactly one shard because
shards partition docs by url hash.

Output doc space (postings format 3): stage-A blocks carry doc_ids, and
salt routing, the salt filter and the per-group sort all run on them. The
merge then writes each posting's ORDINAL — its doc's rank in the index's
sorted, unique doc list (``manifest.sorted_doc_ids``) — into ``doc_ids``,
``block_first_doc`` and ``block_last_doc``. The rank is monotone in
doc_id, so the (salt, block_id) order and block ranges keep their meaning,
and a doc id missing from the doc list fails the build
(``doc_ordinals``).

One merge serves several indexes at once: a ``key`` column on the input
names each block's index, every group and bucket is per key, and each
key brings its own n_docs, avg_dl and doc list (``merge_shard_blocks``).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesserae_ng_spark.index.codec import (
    concat_decode_ids,
    concat_decode_varints,
    delta_encode_ords,
    expand_segment_values,
    from_u64,
    split_varint_stream,
    to_u64,
    varint_decode,
    varint_encode,
    varint_encode_lengths,
)
from tesserae_ng_spark.schemas import BLOCK_SIZE, BM25_B, BM25_K1, POSTINGS_SCHEMA

_LONG_MIN = -(1 << 63)

# per-call row bound for the Arrow batch merge (see merge_shard_blocks)
MERGE_BATCH_MAX_ROWS = 1536


def salt_expr(doc_col, nsalt_col):
    """Spark-side salt: (b32 * nsalt) >> 32 with b32 = u64(doc) >> 32."""
    b32 = F.shiftrightunsigned(doc_col.bitwiseXOR(F.lit(_LONG_MIN)), 32)
    return F.shiftrightunsigned(b32 * nsalt_col, 32).cast("int")


def salt_np(doc_ids: np.ndarray, nsalt: int) -> np.ndarray:
    """numpy-side salt — bit-identical to salt_expr."""
    b32 = to_u64(doc_ids) >> np.uint64(32)
    return ((b32 * np.uint64(nsalt)) >> np.uint64(32)).astype(np.int64)


def doc_ordinals(docs: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Ranks of ``ids`` in the sorted, unique doc list ``docs``. Raises
    when an id is absent: postings and docs from different builds must
    fail the build, not scatter scores onto the wrong docs later."""
    ords = np.searchsorted(docs, ids)
    if ids.size and (
        int(ords.max()) >= docs.size
        or not np.array_equal(docs[ords], ids)
    ):
        raise RuntimeError(
            "postings/docs mismatch: the merge input holds doc ids absent "
            "from the index's shards/docs"
        )
    return ords


def merge_shard_blocks(
    shard_blocks: DataFrame,
    n_docs,
    avg_dl,
    target_postings_per_salt: int = 1 << 20,
    max_salt: int = 1 << 10,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    *,
    n_buckets: int,
    docs,
) -> DataFrame:
    """shard block rows → final POSTINGS_SCHEMA rows (scored, re-blocked),
    doc ordinals into ``docs``, the index's sorted, unique doc_ids
    (``manifest.sorted_doc_ids``). When ``n_docs``, ``avg_dl`` and
    ``docs`` are lists, entry k belongs to the blocks whose int ``key``
    column is k: groups are (key, term, salt) and every output row keeps
    its ``key``. Otherwise they are one index's, and any ``key`` column is
    ignored and not output.

    The exchange partitions by (key, FINAL storage bucket
    ``pmod(xxhash64(term), n_buckets)``), so the output is already in
    sink layout — complete groups per partition — and the caller writes
    it with NO second shuffle. Per-GROUP working sets stay salt-bounded."""
    keyed = isinstance(docs, list)
    if not keyed:
        shard_blocks = shard_blocks.withColumn("key", F.lit(0))
        n_docs, avg_dl, docs = [n_docs], [avg_dl], [docs]
    # one doc list ships with the tasks (8 B/doc); key k's is
    # all_docs[off[k]:off[k + 1]]
    off = np.cumsum([0] + [len(d) for d in docs])
    all_docs = np.concatenate(docs)
    term_stats = shard_blocks.groupBy("key", "term").agg(
        F.sum("n_docs").alias("df"),
        F.sum("tf_sum").alias("cf"),
    )
    term_stats = term_stats.withColumn(
        "nsalt",
        F.least(
            F.greatest(
                F.ceil(F.col("df") / F.lit(target_postings_per_salt)), F.lit(1)
            ),
            F.lit(max_salt),
        ).cast("int"),
    )
    # route each block to every salt its doc range covers (straddlers are
    # rare: only blocks crossing a range boundary duplicate)
    routed = (
        shard_blocks.join(term_stats, ["key", "term"])
        .withColumn("salt_lo", salt_expr(F.col("block_first_doc"), F.col("nsalt")))
        .withColumn("salt_hi", salt_expr(F.col("block_last_doc"), F.col("nsalt")))
        .withColumn("salt", F.explode(F.sequence("salt_lo", "salt_hi")))
        .drop("salt_lo", "salt_hi")
    )

    def merge_batch(tbl):
        # rows arrive key-sorted: one merge_batch_arrow per key run
        import pyarrow as pa

        keys = tbl.column("key").to_numpy()
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        for s, e in zip(starts, np.append(starts[1:], keys.size)):
            k = int(keys[s])
            out = merge_batch_arrow(
                tbl.slice(s, e - s), float(n_docs[k]), float(avg_dl[k]),
                all_docs[off[k]:off[k + 1]],
                block_size=block_size, k1=k1, b=b,
            )
            if out is not None:
                yield pa.RecordBatch.from_arrays(
                    out.columns
                    + [pa.array(np.full(out.num_rows, k, dtype=np.int32))],
                    names=out.schema.names + ["key"],
                )

    routed = routed.withColumn(
        "_bucket",
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
    )
    part_cols = ["key", "_bucket"]
    n_parts = len(docs) * n_buckets
    width = shard_blocks.sparkSession.sparkContext.defaultParallelism
    if width > n_parts:
        # more cores than (key, bucket) pairs: sub-split each pair by an
        # INDEPENDENT term hash (a same-hash mod would correlate with
        # _bucket) — a few files per bucket dir instead of one (r7)
        sub = -(-width // n_parts)  # ceil
        routed = routed.withColumn(
            "_sub",
            F.pmod(
                F.xxhash64(F.col("term"), F.lit(1)), F.lit(sub)
            ).cast("int"),
        )
        part_cols.append("_sub")
        n_parts = width
    # one exchange + partition-sorted Arrow-native batch merge:
    # decode/score/re-encode run ONCE per Arrow batch over many complete
    # (key, term, salt) groups, with no per-group or per-row Python
    # (merge_group_reference below is the per-group spec; equivalence is
    # pinned bit-exactly in tests/test_merge_arrow.py).
    # max_rows bounds the per-call working set: a merge input row carries
    # up to a whole shard block (block_size postings), so 10k-row Arrow
    # batches decode to ~1.3M-posting transient arrays — a ~400 MB peak
    # per worker. ~1.5k rows ≈ 200k postings keeps the transients at a
    # few tens of MB whatever the allocator, while batch amortization
    # stays intact (measured on a host with lazily-backed memory: stage
    # 117 s → 9 s cold).
    out = _grouped_arrow_sorted(
        routed, ["key", "term", "salt"], merge_batch,
        T.StructType(
            POSTINGS_SCHEMA.fields + [T.StructField("key", T.IntegerType(), False)]
        ),
        n_parts=n_parts, partition_cols=part_cols,
        max_rows=MERGE_BATCH_MAX_ROWS,
    )
    return out if keyed else out.drop("key")


def _arrow_key_codes(tbl, keys: list[str]) -> list[np.ndarray]:
    """Per-key comparable numpy arrays for an Arrow table (strings via
    C-side dictionary-encode, numerics zero-copy)."""
    import pyarrow as pa

    cols = []
    for k in keys:
        arr = tbl.column(k).combine_chunks()
        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            cols.append(
                arr.dictionary_encode().indices.to_numpy(zero_copy_only=False)
            )
        else:
            cols.append(arr.to_numpy(zero_copy_only=False))
    return cols


def _grouped_arrow_sorted(
    df: DataFrame,
    keys: list[str],
    batch_fn,
    schema,
    n_parts: int,
    partition_cols: list[str],
    max_rows: int,
) -> DataFrame:
    """Arrow-native grouped batch map: hash-partition by
    ``partition_cols``, partition-sort by ``keys``, then ``mapInArrow``
    where ``batch_fn(pa.Table)`` receives COMPLETE key groups and yields
    RecordBatches (the trailing, possibly batch-straddling group is
    carried into the next batch). Zero per-row Python objects: binary
    payload columns stay Arrow buffers end to end.

    ``partition_cols`` must be a function of a prefix of ``keys`` (here
    the key and the final storage bucket, a deterministic function of
    ``term``), so
    every group lands in exactly one partition and the exchange doubles
    as the sink's partitioning.

    ``max_rows`` re-chunks each complete-groups frame at group boundaries
    before calling batch_fn: a worker's one-time heap growth is
    proportional to the PEAK per-call working set, so chunking bounds the
    peak while leaving steady-state reuse intact (a group larger than
    max_rows still goes through whole, correctness over the bound)."""
    rep = df.repartition(n_parts, *partition_cols).sortWithinPartitions(*keys)

    def _call_chunked(t):
        n = t.num_rows
        if n <= max_rows:
            yield from batch_fn(t)
            return
        cols = _arrow_key_codes(t, keys)
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for c in cols:
            change[1:] |= c[1:] != c[:-1]
        gstarts = np.flatnonzero(change)
        pos = 0
        while pos < n:
            # furthest group start ≤ pos + max_rows (always ≥ one group)
            nxt = gstarts[np.searchsorted(gstarts, pos + max_rows, "right") - 1]
            if nxt <= pos:
                nxt_i = np.searchsorted(gstarts, pos, "right")
                nxt = gstarts[nxt_i] if nxt_i < gstarts.size else n
            yield from batch_fn(t.slice(pos, nxt - pos))
            pos = nxt

    def runner(batches):
        import pyarrow as pa

        carry = None
        for rb in batches:
            t = pa.Table.from_batches([rb])
            if carry is not None:
                t = pa.concat_tables([carry, t])
                carry = None
            n = t.num_rows
            if n == 0:
                continue
            cols = _arrow_key_codes(t, keys)
            eq_last = np.ones(n, dtype=bool)
            for c in cols:
                eq_last &= c[::-1] == c[-1]
            if eq_last.all():
                carry = t  # whole batch is one group; keep accumulating
                continue
            tail_len = int(eq_last.argmin())
            carry = t.slice(n - tail_len)
            yield from _call_chunked(t.slice(0, n - tail_len))
        if carry is not None and carry.num_rows:
            yield from _call_chunked(carry)

    return rep.mapInArrow(runner, schema)


def merge_group_reference(
    pdf: pd.DataFrame, n_docs: int, avg_dl: float, docs: np.ndarray,
    block_size: int = BLOCK_SIZE, k1: float = BM25_K1, b: float = BM25_B,
) -> pd.DataFrame:
    """Per-(term, salt)-group merge — the SPEC for merge_batch_arrow,
    byte-for-byte (tests/test_merge_arrow.py pins equivalence)."""
    n_docs_f = float(n_docs)
    avg_dl_f = float(avg_dl)
    term = pdf["term"].iloc[0]
    salt = int(pdf["salt"].iloc[0])
    nsalt = int(pdf["nsalt"].iloc[0])
    df_t = int(pdf["df"].iloc[0])
    idf = math.log(1.0 + (n_docs_f - df_t + 0.5) / (df_t + 0.5))
    counts = pdf["n_docs"].to_numpy(dtype=np.int64)
    id_bufs = [bytes(x) for x in pdf["doc_ids"]]
    all_ids = concat_decode_ids(id_bufs, counts)
    all_tfs = concat_decode_varints(
        [bytes(x) for x in pdf["tfs"]]
    ).astype(np.int64)
    all_dls = concat_decode_varints(
        [bytes(x) for x in pdf["dls"]]
    ).astype(np.int64)
    pos_col = pdf["positions"]
    has_pos = len(pdf) > 0 and all(bb is not None for bb in pos_col)
    flat_pos: list = []
    if has_pos:
        starts = np.cumsum(counts) - counts
        for r, buf in enumerate(pos_col):
            flat_pos.extend(
                split_varint_stream(
                    bytes(buf), all_tfs[starts[r] : starts[r] + counts[r]]
                )
            )
    keep = salt_np(all_ids, nsalt) == salt
    if not keep.all():
        idx = np.nonzero(keep)[0]
        all_ids, all_tfs, all_dls = all_ids[idx], all_tfs[idx], all_dls[idx]
        if has_pos:
            flat_pos = [flat_pos[i] for i in idx]
    if not all_ids.size:
        return pd.DataFrame(columns=[f.name for f in POSTINGS_SCHEMA.fields])
    order = np.argsort(all_ids, kind="mergesort")
    all_ids, all_tfs, all_dls = all_ids[order], all_tfs[order], all_dls[order]
    all_pos = [flat_pos[i] for i in order] if has_pos else None
    scores = idf * all_tfs / (
        all_tfs + k1 * (1.0 - b + b * all_dls / avg_dl_f)
    )
    all_ords = doc_ordinals(docs, all_ids)
    rows = []
    for bi, start in enumerate(range(0, all_ids.size, block_size)):
        sl = slice(start, min(start + block_size, all_ids.size))
        ords_b, tfs_b = all_ords[sl], all_tfs[sl]
        rows.append(
            {
                "term": term,
                "salt": salt,
                "block_id": bi,
                "n_docs": int(ords_b.size),
                "block_first_doc": int(ords_b[0]),
                "block_last_doc": int(ords_b[-1]),
                "block_max_score": float(scores[sl].max()),
                "block_max_tf": int(tfs_b.max()),
                "block_min_dl": int(all_dls[sl].min()),
                "doc_ids": delta_encode_ords(ords_b),
                "tfs": varint_encode(tfs_b.astype(np.uint64)),
                "dls": varint_encode(all_dls[sl].astype(np.uint64)),
                "positions": (
                    b"".join(all_pos[sl.start : sl.stop])
                    if all_pos is not None
                    else None
                ),
            }
        )
    return pd.DataFrame(rows)


def _column_value_bytes(tbl, name: str):
    """An Arrow binary column's values as ONE contiguous bytes object
    (rows concatenate in order) — the batch decoders exploit that varint
    streams are self-delimiting."""
    arr = tbl.column(name).combine_chunks()
    bufs = arr.buffers()
    n = len(arr)
    off = np.frombuffer(
        bufs[1], dtype=np.int32, count=n + 1 + arr.offset
    )[arr.offset:]
    data = bytes(bufs[2])[off[0]:off[-1]]
    return data, off - off[0]


def merge_batch_arrow(
    tbl,
    n_docs_f: float,
    avg_dl_f: float,
    docs: np.ndarray,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    """Arrow-native merge of a table of COMPLETE (term, salt) groups →
    one RecordBatch of final scored POSTINGS_SCHEMA rows (or None).

    Byte-identical to merge_group_reference per group (pinned in
    tests/test_merge_arrow.py, incl. block_max_score float bits — idf is
    computed with math.log per group, matching the reference exactly).
    All work is batch-wide: ONE varint decode per payload column (rows'
    buffers are contiguous in Arrow), one lexsort, one scoring pass, one
    varint encode per output column, zero per-row/per-block Python."""
    import pyarrow as pa

    tbl = tbl.combine_chunks()
    nrows = tbl.num_rows
    if nrows == 0:
        return None
    term_arr = tbl.column("term").combine_chunks()
    tcodes = term_arr.dictionary_encode().indices.to_numpy(
        zero_copy_only=False
    )
    salt_row = tbl.column("salt").to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    nsalt_row = tbl.column("nsalt").to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    df_row = tbl.column("df").to_numpy(zero_copy_only=False).astype(np.int64)
    counts = tbl.column("n_docs").to_numpy(zero_copy_only=False).astype(
        np.int64
    )

    rchange = np.empty(nrows, dtype=bool)
    rchange[0] = True
    rchange[1:] = (tcodes[1:] != tcodes[:-1]) | (salt_row[1:] != salt_row[:-1])
    row_group = np.cumsum(rchange) - 1  # group ordinal per row
    g_first_row = np.flatnonzero(rchange).astype(np.int64)

    # ---- batch decode (value space: one entry per posting, pre-filter)
    id_stream, _ = _column_value_bytes(tbl, "doc_ids")
    tf_stream, _ = _column_value_bytes(tbl, "tfs")
    dl_stream, _ = _column_value_bytes(tbl, "dls")
    deltas = varint_decode(id_stream)
    total = int(counts.sum())
    row_starts_v = np.cumsum(counts) - counts
    glob = np.cumsum(deltas, dtype=np.uint64)
    seg_base = glob[row_starts_v] - deltas[row_starts_v]
    base = expand_segment_values(seg_base, row_starts_v, total)
    all_ids = from_u64(glob - base)
    all_tfs = varint_decode(tf_stream).astype(np.int64)
    all_dls = varint_decode(dl_stream).astype(np.int64)

    p_group = expand_segment_values(row_group, row_starts_v, total)
    p_nsalt = expand_segment_values(nsalt_row, row_starts_v, total)
    p_salt = expand_segment_values(salt_row, row_starts_v, total)

    # keep only each group's own salt range (straddling blocks carry a
    # few foreign postings) — vectorized salt_np with per-posting nsalt
    b32 = to_u64(all_ids) >> np.uint64(32)
    post_salt = (
        (b32 * p_nsalt.astype(np.uint64)) >> np.uint64(32)
    ).astype(np.int64)
    keep_idx = np.flatnonzero(post_salt == p_salt)
    if keep_idx.size == 0:
        return None

    # sort postings by doc_id within each group (groups stay in order),
    # then map them to ordinals (monotone: the order is unchanged)
    order = keep_idx[
        np.lexsort((all_ids[keep_idx], p_group[keep_idx]))
    ]
    ords_s = doc_ordinals(docs, all_ids[order])
    tfs_s = all_tfs[order]
    dls_s = all_dls[order]
    grp_s = p_group[order]
    nk = order.size

    # per-group idf with math.log — bit-identical to the per-group spec
    g_df = df_row[g_first_row]
    idf_g = np.fromiter(
        (
            math.log(1.0 + (n_docs_f - d + 0.5) / (d + 0.5))
            for d in g_df
        ),
        dtype=np.float64,
        count=g_df.size,
    )
    scores = idf_g[grp_s] * tfs_s / (
        tfs_s + k1 * (1.0 - b + b * dls_s / avg_dl_f)
    )

    # re-block: rank within group, absolute delta at every block start
    gchange = np.empty(nk, dtype=bool)
    gchange[0] = True
    gchange[1:] = grp_s[1:] != grp_s[:-1]
    gstarts = np.flatnonzero(gchange).astype(np.int64)
    rank = np.arange(nk, dtype=np.int64) - expand_segment_values(
        gstarts, gstarts, nk
    )
    block_starts = np.flatnonzero(rank % block_size == 0).astype(np.int64)
    block_ends = np.append(block_starts[1:], nk)
    nblocks = block_starts.size
    bnd = np.append(block_starts, nk)

    d_out = np.empty_like(ords_s)
    d_out[0] = ords_s[0]
    d_out[1:] = ords_s[1:] - ords_s[:-1]
    d_out[block_starts] = ords_s[block_starts]

    def _binary(buf: bytes, lens: np.ndarray) -> pa.Array:
        off = np.zeros(nk + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        bo = off[bnd]
        assert bo[-1] <= np.iinfo(np.int32).max, "batch binary > 2 GiB"
        return pa.Array.from_buffers(
            pa.binary(), nblocks,
            [None, pa.py_buffer(bo.astype(np.int32).tobytes()),
             pa.py_buffer(buf)],
        )

    id_arr = _binary(*varint_encode_lengths(d_out.view(np.uint64)))
    tf_arr = _binary(*varint_encode_lengths(tfs_s.astype(np.uint64)))
    dl_arr = _binary(*varint_encode_lengths(dls_s.astype(np.uint64)))

    pos_col = tbl.column("positions").combine_chunks()
    if pos_col.null_count == 0:
        # per-posting chunk byte ranges in the contiguous positions
        # stream: value k of the stream ends at E[k]; posting j covers
        # values [cumtf[j]-tf[j], cumtf[j])
        pos_stream, _ = _column_value_bytes(tbl, "positions")
        P = np.frombuffer(pos_stream, dtype=np.uint8)
        E = np.flatnonzero((P & 0x80) == 0).astype(np.int64)
        cumtf = np.cumsum(all_tfs)
        chunk_end = E[cumtf - 1] + 1
        chunk_start = np.empty(total, dtype=np.int64)
        chunk_start[0] = 0
        chunk_start[1:] = chunk_end[:-1]
        cs = chunk_start[order]
        ce = chunk_end[order]
        lens = ce - cs
        out_off = np.zeros(nk + 1, dtype=np.int64)
        np.cumsum(lens, out=out_off[1:])
        tot = int(out_off[-1])
        shift = cs - out_off[:-1]
        gather = np.arange(tot, dtype=np.int64) + expand_segment_values(
            shift, out_off[:-1], tot
        )
        out_p = P[gather]
        po = out_off[bnd]
        assert po[-1] <= np.iinfo(np.int32).max, "batch positions > 2 GiB"
        pos_arr = pa.Array.from_buffers(
            pa.binary(), nblocks,
            [None, pa.py_buffer(po.astype(np.int32).tobytes()),
             pa.py_buffer(out_p.tobytes())],
        )
    else:
        # ANY null row degrades the whole batch's groups to
        # non-positional — same contract as the per-group spec (a mixed
        # group degrades rather than crashing or dropping docs)
        pos_arr = pa.nulls(nblocks, pa.binary())

    out_group = grp_s[block_starts]
    take_rows = pa.array(g_first_row[out_group], pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            term_arr.take(take_rows),
            pa.array(salt_row[g_first_row[out_group]].astype(np.int32)),
            pa.array((rank[block_starts] // block_size).astype(np.int32)),
            pa.array((block_ends - block_starts).astype(np.int32)),
            pa.array(ords_s[block_starts]),
            pa.array(ords_s[block_ends - 1]),
            pa.array(np.maximum.reduceat(scores, block_starts)),
            pa.array(
                np.maximum.reduceat(tfs_s, block_starts).astype(np.int32)
            ),
            pa.array(
                np.minimum.reduceat(dls_s, block_starts).astype(np.int32)
            ),
            id_arr,
            tf_arr,
            dl_arr,
            pos_arr,
        ],
        names=[f.name for f in POSTINGS_SCHEMA.fields],
    )


def build_dictionary(postings: DataFrame, n_buckets: int) -> DataFrame:
    """final blocks → DICTIONARY_SCHEMA rows in ONE scan of the final
    postings (guide §2.3/§2.4: aggregate before the shuffle; no second
    scan of the shard postings and no join). Postings of a keyed merge
    (a ``key`` column) give one dictionary per key, keyed the same way.

    cf per term is recovered by decoding the blocks' tf varints: one
    decode of an Arrow batch's joined ``tfs`` bytes, summed per block with
    one ``np.add.reduceat`` over the blocks' ``n_docs`` counts:
    the merge routed every posting to exactly one (term, salt) group
    (straddlers are filtered to their own salt range), so Σ decoded tf
    over the FINAL blocks equals Σ tf_sum over the shard blocks —
    integer-exact dictionary rows (pinned in tests/test_build_e2e.py)."""
    @F.pandas_udf("long")
    def _tf_sum(tfs: pd.Series, n_docs: pd.Series) -> pd.Series:
        counts = n_docs.to_numpy(dtype=np.int64)
        if counts.size == 0:
            return pd.Series([], dtype="int64")
        vals = varint_decode(b"".join(tfs)).view(np.int64)
        starts = np.cumsum(counts) - counts
        return pd.Series(np.add.reduceat(vals, starts), dtype="int64")

    keys = ["key", "term"] if "key" in postings.columns else ["term"]
    d = postings.groupBy(*keys).agg(
        F.sum("n_docs").alias("df"),
        F.sum(_tf_sum("tfs", "n_docs")).alias("cf"),
        F.count("*").cast("int").alias("n_blocks"),
        F.max("block_max_score").alias("max_score"),
    )
    return (
        d.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
        .select(*keys, "df", "cf", "max_score", "n_blocks", "bucket")
    )

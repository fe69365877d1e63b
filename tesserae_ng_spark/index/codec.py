"""Postings block codec: delta + varint (LEB128), numpy-vectorized.

Lucene-analog block postings (SURVEY.md §2.11 `block_encode`; Ding & Suel,
SIGIR'11 block-max metadata): 128 docs per block, per-block
(first_doc, last_doc, max_score, n_docs) metadata enabling block pruning
in the block-max scorer (query/wand.py).

Layout per block (each field its own BinaryType column — columnar at rest):
  doc_ids  : varint( first, delta_1, delta_2, ... )  # non-negative deltas
  tfs      : varint(tf_i)
  dls      : varint(dl_i)                         # exact doc length (BM25)
  positions: per doc: varint(pos_0, gap_1, ...)   # tf_i values per doc,
             concatenated in doc order (split by tfs at decode)

Two doc spaces use the doc_ids layout:
- stage-A blocks hold doc_ids (int64 xxhash64 output, may be negative); an
  XOR with the sign bit maps them to order-preserving uint64 so deltas of
  the sorted list are positive (``delta_encode_ids``/``concat_decode_ids``);
- final postings (postings format 3) hold doc ORDINALS: a doc's rank in
  its index's sorted, unique doc_id list. Ordinals are small and dense, so
  a block's absolute first value costs at most 2 bytes up to 16k docs and
  4 up to 268M, instead of ~9, and they decode with a plain cumsum
  (``delta_encode_ords``/``concat_decode_ords``).

All encode/decode paths are numpy-vectorized — no per-value Python in the
hot loop beyond ≤10 masked passes (max varint length).
"""

from __future__ import annotations

import numpy as np

_SIGN = np.uint64(1) << np.uint64(63)


def to_u64(v: np.ndarray) -> np.ndarray:
    """Order-preserving int64 → uint64 (flip sign bit)."""
    return v.astype(np.int64).view(np.uint64) ^ _SIGN


def from_u64(u: np.ndarray) -> np.ndarray:
    return (u ^ _SIGN).view(np.int64)


def varint_encode(values: np.ndarray) -> bytes:
    """uint64 array → LEB128 bytes (high bit = continuation)."""
    return varint_encode_lengths(values)[0]


# Per-process scratch pool for the encoder's large temporaries. Encode
# workers call varint_encode_lengths thousands of times per task with
# similar sizes; without pooling every call mmap/munmaps tens of MB whose
# re-faulting is the one cost that degrades superlinearly with co-located
# workers on lazily-backed VMs (BENCH/BASELINE.md fault traces). Buffers
# only grow; keys are internal to this function, nothing escapes.
# SINGLE-THREAD CONTRACT (ADVICE r6): the pool is per-process and NOT
# thread-safe — concurrent encoders in one process would corrupt each
# other's scratch. Safe under Spark python workers (one task thread per
# process); a multi-threaded host application must serialize encodes or
# fork per thread.
_SCRATCH: dict = {}


def _scratch(key: str, nbytes: int) -> np.ndarray:
    buf = _SCRATCH.get(key)
    if buf is None or buf.nbytes < nbytes:
        buf = np.empty(max(nbytes, 64), dtype=np.uint8)
        _SCRATCH[key] = buf
    return buf


def varint_encode_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """uint64 array → (LEB128 bytes, per-value byte lengths).

    The lengths array lets batch encoders slice ONE stream into per-block
    chunks by byte offset (cumsum of lengths) — varint streams are
    self-delimiting, so a chunk of whole values is itself a valid stream.

    Shape: an (n, max_len) byte matrix filled column-by-column with
    in-place shifts (continuation bit pre-set, then cleared at each
    value's last byte with one flat scatter), compacted in row-major
    order through a kept-byte mask. All large temporaries live in the
    per-process scratch pool above; the only per-call allocations are
    the returned lengths array and the output bytes.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    lengths = np.ones(n, dtype=np.int64)  # returned — not pooled
    mask = _scratch("mask", n)[:n].view(np.bool_)
    # length in bytes = 1 + #{k >= 1 : value >= 2^(7k)}
    for k in range(1, 10):
        np.greater_equal(v, np.uint64(1) << np.uint64(7 * k), out=mask)
        if not mask.any():
            break
        lengths += mask
    max_len = int(lengths.max())
    if max_len == 1:  # dominant for tfs/dls and warm posting gaps
        return v.astype(np.uint8).tobytes(), lengths
    mat = _scratch("mat", n * max_len)[: n * max_len].reshape(n, max_len)
    w = _scratch("w", n * 8)[: n * 8].view(np.uint64)
    tmp = _scratch("tmp", n * 8)[: n * 8].view(np.uint64)
    np.copyto(w, v)
    m7 = np.uint64(0x7F)
    for b in range(max_len):
        np.bitwise_and(w, m7, out=tmp)
        np.bitwise_or(tmp, np.uint64(0x80), out=tmp)
        mat[:, b] = tmp  # downcast on assignment, no temp
        if b + 1 < max_len:
            w >>= np.uint64(7)
    # clear the continuation bit at each value's last byte (dead bytes
    # past a value's length keep theirs — they are dropped below)
    ar = _SCRATCH.get("arange")
    if ar is None or ar.size < n:
        ar = np.arange(max(n, 64), dtype=np.int64)
        _SCRATCH["arange"] = ar
    last = _scratch("last", n * 8)[: n * 8].view(np.int64)
    np.multiply(ar[:n], max_len, out=last)
    last += lengths
    last -= 1
    flat = mat.reshape(-1)
    flat[last] &= np.uint8(0x7F)
    keep = _scratch("keep", n * max_len)[: n * max_len].reshape(
        n, max_len
    ).view(np.bool_)
    for b in range(max_len):
        np.greater(lengths, b, out=keep[:, b])
    return flat[keep.reshape(-1)].tobytes(), lengths


def varint_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """LEB128 bytes → uint64 array.

    Masked per-byte-position passes (mirror of the encoder): pass b ORs
    byte b of every value still that long. Temporaries shrink geometrically
    with b (posting gaps/tfs are mostly 1–2 bytes), vs the old
    arange+repeat+reduceat shape that materialized five full-stream-sized
    int64 arrays — ~4× less memory traffic, which on this VM's
    slow-large-allocation profile is the decode hot path itself."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    low = arr & np.uint8(0x7F)
    ends = np.nonzero(arr == low)[0]  # continuation bit clear = value end
    if ends.size == arr.size:  # all single-byte (dominant for tfs/gaps)
        return low.astype(np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    out = low[starts].astype(np.uint64)  # byte 0 of every value
    b = 1
    maxlen = int(lens.max())
    while b < maxlen:
        m = lens > b
        out[m] |= low[starts[m] + b].astype(np.uint64) << np.uint64(7 * b)
        b += 1
    return out


def delta_encode_ids(doc_ids: np.ndarray) -> bytes:
    """Sorted (strictly increasing) int64 doc ids → delta varint bytes."""
    u = to_u64(np.asarray(doc_ids, dtype=np.int64))
    if u.size == 0:
        return b""
    d = np.empty_like(u)
    d[0] = u[0]
    d[1:] = u[1:] - u[:-1]
    return varint_encode(d)


def delta_decode_ids(buf: bytes) -> np.ndarray:
    d = varint_decode(buf)
    if d.size == 0:
        return np.empty(0, dtype=np.int64)
    return from_u64(np.cumsum(d, dtype=np.uint64))


def delta_encode_ords(ords: np.ndarray) -> bytes:
    """Sorted non-negative doc ordinals → delta varint bytes (first value
    absolute)."""
    o = np.asarray(ords, dtype=np.int64)
    if o.size == 0:
        return b""
    d = np.empty_like(o)
    d[0] = o[0]
    d[1:] = o[1:] - o[:-1]
    return varint_encode(d.view(np.uint64))


def expand_segment_values(vals: np.ndarray, starts: np.ndarray, n: int) -> np.ndarray:
    """Per-segment constant expansion — equivalent to
    ``np.repeat(vals, segment_lengths)`` for segments beginning at
    ``starts`` (strictly increasing, starts[0] == 0) over total length
    ``n`` — via a delta scatter + cumsum. np.repeat materializes index
    machinery several× slower than one cumsum pass on large arrays (this
    VM's memory profile makes that the decode hot path)."""
    out = np.zeros(n, dtype=vals.dtype)
    if n == 0 or vals.size == 0:
        return out
    # precondition (stripped under ``python -O``): zero-length segments
    # (duplicate starts) would collapse the delta scatter below to
    # last-write-wins and silently shift every later segment — fail loudly
    # instead (ADVICE r3). One vectorized pass over the segment-count array.
    assert starts[0] == 0 and bool(
        (np.diff(starts) > 0).all()
    ), "expand_segment_values: starts must be strictly increasing from 0"
    out[0] = vals[0]
    out[starts[1:]] = vals[1:] - vals[:-1]
    return np.cumsum(out)


def concat_decode_varints(bufs: list[bytes]) -> np.ndarray:
    """Decode many varint buffers in ONE pass (join + single decode).
    Varint streams are self-delimiting, so concatenation is lossless."""
    return varint_decode(b"".join(bufs))


def concat_decode_ids(bufs: list[bytes], counts: np.ndarray) -> np.ndarray:
    """Decode many delta-id buffers (each with an absolute first value) in
    one pass: single varint decode + segmented cumsum (cumsum reset at each
    buffer start via reduceat-style base subtraction)."""
    counts = np.asarray(counts, dtype=np.int64)
    d = concat_decode_varints(bufs)
    if d.size == 0:
        return np.empty(0, dtype=np.int64)
    glob = np.cumsum(d, dtype=np.uint64)
    starts = np.cumsum(counts) - counts
    seg_base = glob[starts] - d[starts]
    # uint64 wrap-around in the delta scatter is fine: cumsum is exact mod 2^64
    base = expand_segment_values(seg_base, starts, d.size)
    return from_u64(glob - base)


def concat_decode_ords(bufs: list[bytes], counts: np.ndarray) -> np.ndarray:
    """Decode many delta-ordinal buffers (each with an absolute first
    value) in one pass → int64 ordinals: one varint decode + a cumsum reset
    at each buffer start. Ordinals are < 2^63, so no sign mapping."""
    counts = np.asarray(counts, dtype=np.int64)
    d = concat_decode_varints(bufs).view(np.int64)
    glob = np.cumsum(d)
    if counts.size <= 1:
        return glob
    starts = np.cumsum(counts) - counts
    seg_base = glob[starts] - d[starts]
    return glob - expand_segment_values(seg_base, starts, d.size)


def split_varint_stream(buf: bytes, counts: np.ndarray) -> list[bytes]:
    """Split one varint stream into byte chunks of ``counts[k]`` values each
    — WITHOUT decoding values. Chunk k stays a valid stream (our position
    chunks start with an absolute value). Vectorized boundary scan."""
    counts = np.asarray(counts, dtype=np.int64)
    if len(buf) == 0:
        return [b""] * counts.size
    arr = np.frombuffer(buf, dtype=np.uint8)
    ends = np.nonzero((arr & 0x80) == 0)[0]  # last byte index of each value
    cum = np.cumsum(counts)
    chunk_ends = ends[cum - 1] + 1
    chunk_starts = np.empty_like(chunk_ends)
    chunk_starts[0] = 0
    chunk_starts[1:] = chunk_ends[:-1]
    return [buf[s:e] for s, e in zip(chunk_starts, chunk_ends)]


def encode_positions(positions_per_doc: list, tfs: np.ndarray) -> bytes:
    """Per-doc sorted position lists → concatenated delta varints.

    len(positions_per_doc[i]) must equal tfs[i]; decode splits by tfs.
    """
    if not positions_per_doc:
        return b""
    flat = np.concatenate(
        [np.asarray(p, dtype=np.int64) for p in positions_per_doc]
    ).astype(np.uint64)
    if flat.size == 0:
        return b""
    # delta within each doc: subtract previous position, but reset at doc
    # boundaries (first position of each doc encoded absolute)
    deltas = flat.copy()
    deltas[1:] = flat[1:] - flat[:-1]
    starts = np.cumsum(np.asarray(tfs, dtype=np.int64)) - np.asarray(tfs, dtype=np.int64)
    deltas[starts] = flat[starts]
    return varint_encode(deltas)


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """→ list of per-doc position arrays (int32)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if len(buf) == 0:
        return [np.empty(0, dtype=np.int32) for _ in range(tfs.size)]
    d = varint_decode(buf).view(np.int64)  # positions < 2^63: view is free
    starts = np.cumsum(tfs) - tfs
    # undo per-doc delta: cumsum within segments = global cumsum minus the
    # carried-over base at each segment start
    glob = np.cumsum(d)
    seg_base = glob[starts] - d[starts]  # cumulative sum before each segment
    base = expand_segment_values(seg_base, starts, d.size)
    vals = (glob - base).astype(np.int32)
    return [vals[s : s + t] for s, t in zip(starts, tfs)]

"""Property tests for the postings codec (SURVEY.md §5.2)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tesserae_ng_spark.index.codec import (
    decode_positions,
    delta_decode_ids,
    delta_encode_ids,
    encode_positions,
    to_u64,
    from_u64,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@given(
    st.sets(
        st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=0, max_size=400
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_ids_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    assert np.array_equal(delta_decode_ids(delta_encode_ids(arr)), arr)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_u64_mapping_roundtrip(x):
    a = np.array([x], dtype=np.int64)
    assert from_u64(to_u64(a))[0] == x


def test_u64_order_preserving():
    xs = np.array([-(2**63), -5, -1, 0, 1, 7, 2**63 - 1], dtype=np.int64)
    u = to_u64(xs)
    assert np.all(u[1:] > u[:-1])


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=100000), min_size=1, max_size=30),
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_positions_roundtrip(pos_lists):
    pos_lists = [sorted(set(p)) or [0] for p in pos_lists]
    tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
    buf = encode_positions(pos_lists, tfs)
    out = decode_positions(buf, tfs)
    assert len(out) == len(pos_lists)
    for got, want in zip(out, pos_lists):
        assert got.tolist() == want


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=100000), min_size=1, max_size=30),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=150, deadline=None)
def test_split_varint_stream_roundtrip(pos_lists):
    from tesserae_ng_spark.index.codec import split_varint_stream

    pos_lists = [sorted(set(p)) or [0] for p in pos_lists]
    tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
    stream = encode_positions(pos_lists, tfs)
    chunks = split_varint_stream(stream, tfs)
    assert b"".join(chunks) == stream
    # each chunk independently decodes to its doc's positions
    for chunk, want in zip(chunks, pos_lists):
        got = np.cumsum(varint_decode(chunk).astype(np.int64)).tolist()
        assert got == want


def test_empty_everything():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0
    assert delta_decode_ids(b"").size == 0
    assert encode_positions([], np.empty(0)) == b""


def _blocks(df) -> list[tuple]:
    """Block rows as comparable tuples (Arrow binaries → bytes)."""
    return [
        tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x for x in r)
        for r in df.itertuples(index=False)
    ]


_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["alpha", "beta", "gamma", "d"]),
        st.integers(min_value=-(2**62), max_value=2**62),
        st.integers(min_value=1, max_value=7),
        st.integers(min_value=1, max_value=300),
    ),
    min_size=1,
    max_size=150,
    unique_by=lambda r: (r[0], r[1]),
)


def _postings_frame(rows, seed: int, with_pos: bool):
    """Sorted (term, doc_id) postings frame in the stage-A input shape."""
    import pandas as pd

    rng = np.random.RandomState(seed)
    recs = [
        (
            t, d, tf,
            bytes(rng.randint(0, 255, size=tf).astype(np.uint8))
            if with_pos else None,
            dl,
        )
        for t, d, tf, dl in rows
    ]
    return pd.DataFrame(
        recs, columns=["term", "doc_id", "tf", "positions", "dl"]
    ).sort_values(["term", "doc_id"], kind="mergesort").reset_index(drop=True)


def _per_group(frame, block_size: int):
    """The spec: encode_term_group run once per term group of a pandas frame."""
    import pandas as pd

    from tesserae_ng_spark.index.encode import encode_term_group

    return pd.concat(
        [
            encode_term_group(g, block_size)
            for _, g in frame.groupby("term", sort=True)
        ],
        ignore_index=True,
    )


@given(_ROWS, st.sampled_from([4, 16, 128]))
@settings(max_examples=60, deadline=None)
def test_batch_encoder_equals_per_group(rows, block_size):
    """encode_batch_arrow (the production stage-A body, one pass over MANY
    term groups) must be byte-identical to encode_term_group run per group
    — its spec — with positions and with the no-positions shape."""
    import pyarrow as pa

    from tesserae_ng_spark.index.encode import encode_batch_arrow

    for with_pos in (True, False):
        pdf = _postings_frame(rows, 7, with_pos)
        got = encode_batch_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), block_size
        ).to_pandas()
        want = _per_group(pdf, block_size)
        assert list(got.columns) == list(want.columns)
        assert _blocks(got) == _blocks(want)


@given(_ROWS, st.sampled_from([4, 128]), st.booleans())
@settings(max_examples=40, deadline=None)
def test_arrow_encoder_equals_pandas_batch(rows, block_size, with_pos):
    """encode_batch_arrow over an Arrow table must emit rows byte-identical
    to the per-group encoder over the same pandas batch — including via a
    nonzero Arrow slice offset, the shape the runner's carry produces."""
    import pyarrow as pa

    from tesserae_ng_spark.index.encode import encode_batch_arrow

    pdf = _postings_frame(rows, 11, with_pos)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    got = encode_batch_arrow(tbl, block_size).to_pandas()
    assert _blocks(got) == _blocks(_per_group(pdf, block_size))
    if len(pdf) > 2:
        # sliced table (carry shape): encode rows of the LAST whole group
        # only, via slice — offsets must honor the slice
        terms_np = pdf["term"].to_numpy()
        last_start = int(np.flatnonzero(terms_np == terms_np[-1])[0])
        got_tail = encode_batch_arrow(tbl.slice(last_start), block_size)
        want_tail = _per_group(
            pdf.iloc[last_start:].reset_index(drop=True), block_size
        )
        assert _blocks(got_tail.to_pandas()) == _blocks(want_tail)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=50))
@settings(max_examples=60, deadline=None)
def test_varint_encode_lengths_consistent(xs):
    from tesserae_ng_spark.index.codec import (
        varint_decode,
        varint_encode,
        varint_encode_lengths,
    )

    v = np.array(xs, dtype=np.uint64)
    buf, lens = varint_encode_lengths(v)
    assert buf == varint_encode(v)
    assert int(lens.sum()) == len(buf)
    # slicing any whole-value prefix by byte offsets is a valid stream
    if len(xs) > 1:
        cut = int(lens[: len(xs) // 2].sum())
        head = varint_decode(buf[:cut])
        assert np.array_equal(head, v[: len(xs) // 2])


def test_varint_scratch_pool_no_stale_bytes():
    """The encoder's per-process scratch pool (round 6) hands out slice
    views of grown buffers; a large call followed by smaller calls of
    varying widths must not leak stale bytes into the shorter outputs.
    Also pins the LEB128 spec bytes on a known vector."""
    from tesserae_ng_spark.index.codec import varint_decode, varint_encode_lengths

    rng = np.random.default_rng(11)
    big = rng.integers(0, 2**63, size=100_000, dtype=np.uint64)
    b0, l0 = varint_encode_lengths(big)
    assert np.array_equal(varint_decode(b0), big)
    # smaller calls of decreasing size and different max widths reuse the
    # grown pool; every one must round-trip and match a fresh-process
    # golden (spec bytes, not just roundtrip)
    for size, hi in [(1000, 2**63), (10, 2**14), (3, 128), (1, 2**40)]:
        v = rng.integers(0, hi, size=size, dtype=np.uint64)
        buf, lens = varint_encode_lengths(v)
        assert np.array_equal(varint_decode(buf), v)
        assert int(lens.sum()) == len(buf)
    # LEB128 spec pin: known byte patterns
    v = np.array([0, 1, 127, 128, 300, 2**14], dtype=np.uint64)
    buf, lens = varint_encode_lengths(v)
    assert buf == bytes(
        [0x00, 0x01, 0x7F, 0x80, 0x01, 0xAC, 0x02, 0x80, 0x80, 0x01]
    )
    assert lens.tolist() == [1, 1, 1, 2, 2, 3]

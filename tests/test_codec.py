"""Posting codec: delta+varbyte round-trip identity (property-based)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from semantic_pdf_search_engine_spark.operators import codec


def _encode(codec_name, arr):
    """Encode one array as one block with the codec's group encoder
    (what the build runs)."""
    a = np.asarray(arr, dtype=np.uint64)
    starts = np.zeros(1, dtype=np.int64)
    return codec.CODECS[codec_name][0](a, starts, starts + a.size)[0]


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=500))
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.vb_decode(_encode("vbyte", arr)), arr)


def _block_roundtrip(gaps, base, codec_name):
    """Encode one block with the codec's group encoder (what the build
    runs), decode it with decode_rows (what the query kernel runs)."""
    # build a strictly increasing doc list from positive gaps
    doc_ids = base + np.cumsum(np.array(gaps, dtype=np.int64) + 1)
    tfs = np.arange(1, len(doc_ids) + 1, dtype=np.uint64)
    dls = tfs * 3 + 1
    g, t, d = (
        _encode(codec_name, arr)
        for arr in (np.diff(doc_ids, prepend=base), tfs, dls)
    )
    (g2, n), (t2, _), (d2, _) = (
        codec.decode_rows(pa.array([buf], pa.binary()), codec_name) for buf in (g, t, d)
    )
    assert n.tolist() == [doc_ids.size]
    assert np.array_equal(base + np.cumsum(g2.astype(np.int64)), doc_ids)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(d2, dls)


@given(
    st.lists(st.integers(min_value=0, max_value=2**31), min_size=1, max_size=300),
    st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(gaps, base):
    for codec_name in ("vbyte", "auto"):
        _block_roundtrip(gaps, base, codec_name)


def test_empty():
    assert _encode("vbyte", []) == b""
    assert codec.vb_decode(b"").size == 0


def test_compression_ratio():
    # dense gaps ≈1 → ~1 byte/posting vs 8 for raw int64
    docs = np.arange(0, 4096, dtype=np.int64)
    enc = _encode("vbyte", np.diff(docs, prepend=0))
    assert len(enc) == 4096  # one byte per gap


# ---------------------------------------------------------------------------
# frame-of-reference bit packing
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_for_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.for_decode(_encode("for", arr)), arr)


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=60),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_for_groups_equal_single(groups):
    """Batch group encoder ≡ per-group single encoder, byte for byte."""
    flat = np.array([v for g in groups for v in g], dtype=np.uint64)
    counts = np.array([len(g) for g in groups], dtype=np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    buf, nbytes = codec.for_encode_groups(flat, starts, ends)
    off = np.concatenate([[0], np.cumsum(nbytes)])
    for i, g in enumerate(groups):
        piece = buf[off[i] : off[i + 1]]
        assert piece == _encode("for", g)
        assert np.array_equal(
            codec.for_decode(piece), np.array(g, dtype=np.uint64)
        )


@given(
    st.lists(st.integers(min_value=0, max_value=2**31), min_size=1, max_size=300),
    st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=100, deadline=None)
def test_for_block_roundtrip(gaps, base):
    _block_roundtrip(gaps, base, "for")


def test_for_empty():
    assert codec.for_decode(_encode("for", [])).size == 0


def test_for_constant_block_is_minimal():
    # constant values → width 1 (delta 0 everywhere): header + n/8 bytes
    arr = np.full(4096, 123456, dtype=np.uint64)
    enc = _encode("for", arr)
    assert len(enc) == 13 + 4096 // 8


def test_for_beats_vbyte_on_dense_gaps():
    # gaps of 1 over 4096 postings: vbyte floor = 1 byte/value,
    # FOR packs at 1 BIT/value (+13-byte header)
    gaps = np.ones(4096, dtype=np.uint64)
    assert len(_encode("for", gaps)) < len(_encode("vbyte", gaps)) / 4


def test_vb_encode_groups_contract():
    flat = np.array([1, 200, 3, 70000, 5], dtype=np.uint64)
    starts = np.array([0, 2], dtype=np.int64)
    ends = np.array([2, 5], dtype=np.int64)
    buf, nbytes = codec.vb_encode_groups(flat, starts, ends)
    off = np.concatenate([[0], np.cumsum(nbytes)])
    assert np.array_equal(codec.vb_decode(buf[off[0] : off[1]]), flat[:2])
    assert np.array_equal(codec.vb_decode(buf[off[1] : off[2]]), flat[2:])


# ---------------------------------------------------------------------------
# per-block adaptive codec
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=60),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_auto_roundtrip_and_minimality(groups):
    flat = np.array([v for g in groups for v in g], dtype=np.uint64)
    counts = np.array([len(g) for g in groups], dtype=np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    buf, nbytes = codec.auto_encode_groups(flat, starts, ends)
    vb_buf, vb_nb = codec.vb_encode_groups(flat, starts, ends)
    fo_buf, fo_nb = codec.for_encode_groups(flat, starts, ends)
    assert np.array_equal(nbytes, np.minimum(vb_nb, fo_nb) + 1)
    off = np.concatenate([[0], np.cumsum(nbytes)])
    for i, g in enumerate(groups):
        assert np.array_equal(
            codec.auto_decode(buf[off[i] : off[i + 1]]),
            np.array(g, dtype=np.uint64),
        )


def test_auto_picks_for_on_dense_vbyte_on_zipf():
    dense = np.ones(4096, dtype=np.uint64)  # FOR: 1 bit/val
    rng = np.random.default_rng(7)
    zipf = rng.zipf(1.3, 4096).astype(np.uint64)  # outlier widens FOR frame
    for arr, tag in ((dense, b"\x01"), (zipf, b"\x00")):
        buf, _ = codec.auto_encode_groups(
            arr, np.zeros(1, dtype=np.int64), np.asarray([arr.size], dtype=np.int64)
        )
        assert buf[:1] == tag
        assert np.array_equal(codec.auto_decode(buf), arr)


# ---------------------------------------------------------------------------
# row-wise decode of an Arrow binary column (the query kernel's input)
# ---------------------------------------------------------------------------

_SINGLE_DECODERS = {
    "vbyte": codec.vb_decode,
    "for": codec.for_decode,
    "auto": codec.auto_decode,
}


def _encode_rows(rows, codec_name):
    return [_encode(codec_name, r) for r in rows]


def _assert_rows_decode(arr, codec_name):
    """decode_rows ≡ the per-row single-block decoder, values and counts."""
    values, counts = codec.decode_rows(arr, codec_name)
    want = [_SINGLE_DECODERS[codec_name](b) for b in arr.to_pylist()]
    assert counts.tolist() == [w.size for w in want]
    assert values.dtype == np.uint64
    assert np.array_equal(values, np.concatenate([np.zeros(0, np.uint64), *want]))


@pytest.mark.parametrize("codec_name", ["vbyte", "for", "auto"])
@given(
    rows=st.lists(
        st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=40), max_size=12
    ),
    cut=st.integers(min_value=0, max_value=12),
)
@settings(max_examples=60, deadline=None)
def test_decode_rows_equals_per_row(codec_name, rows, cut):
    bufs = _encode_rows(rows, codec_name)
    for typ in (pa.binary(), pa.large_binary()):
        arr = pa.array(bufs, typ)
        _assert_rows_decode(arr, codec_name)
        _assert_rows_decode(arr.slice(min(cut, len(bufs))), codec_name)


@pytest.mark.parametrize("codec_name", ["vbyte", "for", "auto"])
def test_decode_rows_edges(codec_name):
    """Empty blocks, 1-value blocks, values ≥ 2^35, a sliced array (its
    offset ≠ 0, which buffers() ignores) and a chunked column."""
    rows = [[], [7], [2**35, 2**35 + 1, 2**62], [], [0], [1, 2, 3]]
    arr = pa.array(_encode_rows(rows, codec_name), pa.binary())
    _assert_rows_decode(arr, codec_name)
    for sliced in (arr.slice(1), arr.slice(2, 3), arr.slice(3, 1), arr.slice(6)):
        assert sliced.offset > 0
        _assert_rows_decode(sliced, codec_name)
    values, counts = codec.decode_rows(arr.slice(2, 2), codec_name)
    assert values.tolist() == [2**35, 2**35 + 1, 2**62] and counts.tolist() == [3, 0]
    chunked = pa.chunked_array([arr.slice(0, 3), arr.slice(3)])
    values, counts = codec.decode_rows(chunked, codec_name)
    assert counts.tolist() == [len(r) for r in rows]
    assert values.tolist() == [v for r in rows for v in r]

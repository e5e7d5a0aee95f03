"""Delta + varbyte / FOR posting compression, fully vectorized numpy.

Posting blocks store three parallel uint arrays — doc-id gaps, term
frequencies, doc lengths — as compressed BinaryType columns under a
codec recorded in the index manifest and dispatched at decode:

- ``vbyte``  — VByte (7 data bits per byte, MSB = continuation,
  little-endian groups). Byte-granular, good for skewed gap
  distributions with occasional large values.
- ``for``    — frame-of-reference bit packing: per block, subtract the
  frame minimum and pack every delta at the block's fixed bit width
  (MSB-first), after a 13-byte header ``[width u8][n u32 LE]
  [min u64 LE]``. Fixed width makes decode a single unpackbits +
  shift-accumulate — no per-value branching — and compresses dense
  low-gap blocks below VByte's 1-byte-per-value floor.
- ``auto``   — per-block best-of-both: each block carries a 1-byte tag
  and stores whichever of the two encodings is smaller (see
  `auto_encode_groups` for the distribution trade-off).

Runs inside applyInPandas (Arrow batches); no per-row Python. Encode
and decode are loop-free over the value count (loops run over
byte-width ≤ 10 / bit-width ≤ 64, each iteration vectorized over the
whole Arrow batch), so a 4096-entry block costs microseconds, not
milliseconds.
"""

from __future__ import annotations

import numpy as np

_SHIFTS = (7, 14, 21, 28, 35, 42, 49, 56, 63)


def vb_encode_counts(arr: np.ndarray) -> tuple[bytes, np.ndarray]:
    """VByte-encode; also return per-value byte counts so callers can
    slice the buffer at arbitrary group boundaries (the batch encoder
    compresses a whole Arrow batch in one call and splits per block)."""
    a = np.ascontiguousarray(arr, dtype=np.uint64)
    if a.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(a.size, dtype=np.int64)
    for s in _SHIFTS:
        nbytes += (a >= np.uint64(1) << np.uint64(s)).astype(np.int64)
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    idx = np.zeros(a.size, dtype=np.int64)
    idx[1:] = np.cumsum(nbytes)[:-1]
    rem = a.copy()
    active = np.ones(a.size, dtype=bool)
    while active.any():
        b7 = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
        more = rem > 0
        out[idx[active]] = b7[active] | (more[active].astype(np.uint8) << 7)
        idx[active] += 1
        active &= more
    return out.tobytes(), nbytes


def vb_encode(arr: np.ndarray) -> bytes:
    """VByte-encode a 1-D array of unsigned ints."""
    return vb_encode_counts(arr)[0]


def vb_decode(buf: bytes) -> np.ndarray:
    """Decode VByte buffer back to uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    n = int(is_last.sum())
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = np.cumsum(is_last[:-1])
    starts = np.zeros(n, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    within = (np.arange(b.size) - starts[group]).astype(np.uint64)
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (np.uint64(7) * within)
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(vals, group, contrib)
    return vals


def delta_encode(sorted_ids: np.ndarray, base: int = 0) -> np.ndarray:
    """Strictly-increasing ids → gaps (first gap relative to `base`)."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    gaps = np.empty(ids.size, dtype=np.uint64)
    if ids.size:
        gaps[0] = ids[0] - base
        gaps[1:] = np.diff(ids)
    return gaps


def delta_decode(gaps: np.ndarray, base: int = 0) -> np.ndarray:
    return (np.cumsum(gaps.astype(np.int64)) + base).astype(np.int64)


# ---------------------------------------------------------------------------
# frame-of-reference bit packing
# ---------------------------------------------------------------------------

_FOR_HEADER = 13  # [width u8][n u32 LE][min u64 LE]


def _bit_widths(maxima: np.ndarray) -> np.ndarray:
    """Bits needed to represent each value in `maxima` (min width 1).
    Integer-exact (no log2 float path — wrong above 2**53)."""
    m = np.ascontiguousarray(maxima, dtype=np.uint64)
    w = np.ones(m.size, dtype=np.int64)
    for s in range(1, 64):
        w += (m >= np.uint64(1) << np.uint64(s)).astype(np.int64)
    return w


def for_encode_groups(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """FOR-encode each [starts[i], ends[i]) slice of `values` as an
    independent block; returns (flat buffer, per-group byte counts) so
    the batch encoder can compress a whole Arrow batch in one call and
    slice per block — same contract as the vbyte group encoder."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    ends = np.ascontiguousarray(ends, dtype=np.int64)
    ngroups = starts.size
    if ngroups == 0:
        return b"", np.zeros(0, dtype=np.int64)
    counts = ends - starts
    seg = np.repeat(np.arange(ngroups), counts)
    gmin = np.zeros(ngroups, dtype=np.uint64)
    dmax = np.zeros(ngroups, dtype=np.uint64)
    nz = counts > 0
    if v.size:
        gmin[nz] = np.minimum.reduceat(v, starts[nz])
        deltas = v - gmin[seg]
        dmax[nz] = np.maximum.reduceat(deltas, starts[nz])
    else:
        deltas = v
    widths = _bit_widths(dmax)

    group_bytes = _FOR_HEADER + ((counts * widths + 7) >> 3)
    byte_off = np.zeros(ngroups, dtype=np.int64)
    byte_off[1:] = np.cumsum(group_bytes)[:-1]
    out = np.zeros(int(group_bytes.sum()), dtype=np.uint8)

    # headers, vectorized across groups
    out[byte_off] = widths.astype(np.uint8)
    for i in range(4):
        out[byte_off + 1 + i] = ((counts >> (8 * i)) & 0xFF).astype(np.uint8)
    for i in range(8):
        out[byte_off + 5 + i] = (
            (gmin >> np.uint64(8 * i)) & np.uint64(0xFF)
        ).astype(np.uint8)

    if v.size:
        # absolute bit position of each value's MSB (blocks byte-aligned)
        within = np.arange(v.size, dtype=np.int64) - starts[seg]
        w_per_val = widths[seg]
        bit_start = (byte_off[seg] + _FOR_HEADER) * 8 + within * w_per_val
        # loop over bit index j (≤ 64, vectorized over the whole batch):
        # bit j of a value is (delta >> (w-1-j)) & 1, MSB-first
        for j in range(int(widths.max())):
            active = w_per_val > j
            if not active.any():
                break
            sh = (w_per_val[active] - 1 - j).astype(np.uint64)
            bit = ((deltas[active] >> sh) & np.uint64(1)).astype(np.uint8)
            pos = bit_start[active] + j
            np.bitwise_or.at(out, pos >> 3, bit << (7 - (pos & 7)).astype(np.uint8))
    return out.tobytes(), group_bytes


def for_encode(arr: np.ndarray) -> bytes:
    """FOR-encode a single 1-D array of unsigned ints as one block."""
    a = np.ascontiguousarray(arr, dtype=np.uint64)
    buf, _ = for_encode_groups(
        a, np.zeros(1, dtype=np.int64), np.asarray([a.size], dtype=np.int64)
    )
    return buf


def for_decode(buf: bytes) -> np.ndarray:
    """Decode one FOR block back to uint64 values."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    w = int(b[0])
    n = int.from_bytes(bytes(b[1:5]), "little")
    mn = np.uint64(int.from_bytes(bytes(b[5:13]), "little"))
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    bits = np.unpackbits(b[_FOR_HEADER:], count=n * w).reshape(n, w)
    vals = np.zeros(n, dtype=np.uint64)
    for j in range(w):  # MSB-first shift-accumulate, vectorized over n
        vals = (vals << np.uint64(1)) | bits[:, j].astype(np.uint64)
    return vals + mn


def vb_encode_groups(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """VByte group encoder under the same (flat buffer, per-group byte
    counts) contract as `for_encode_groups` — one whole-batch encode,
    per-group byte counts derived from the per-value counts."""
    buf, nbytes = vb_encode_counts(values)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    ends = np.ascontiguousarray(ends, dtype=np.int64)
    if starts.size == 0:
        return buf, np.zeros(0, dtype=np.int64)
    cum = np.concatenate([[0], np.cumsum(nbytes)])
    return buf, cum[ends] - cum[starts]


def auto_encode_groups(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Per-block adaptive codec: encode every group BOTH ways (encode
    is a negligible slice of build cost), keep whichever is smaller,
    and prepend a 1-byte tag (0 = vbyte, 1 = FOR) so decode dispatches
    per block. Dense hot-term blocks get FOR's sub-byte bit packing;
    Zipf-tailed gap blocks — where one outlier gap would widen the
    whole FOR frame — keep VByte. Strictly ≤ min(vbyte, for) + 1 byte
    per block, so no distribution is pathological."""
    vb_buf, vb_nb = vb_encode_groups(values, starts, ends)
    fo_buf, fo_nb = for_encode_groups(values, starts, ends)
    vb_off = np.concatenate([[0], np.cumsum(vb_nb)])
    fo_off = np.concatenate([[0], np.cumsum(fo_nb)])
    use_for = fo_nb < vb_nb
    parts = [
        (b"\x01" + fo_buf[fo_off[i] : fo_off[i + 1]])
        if use_for[i]
        else (b"\x00" + vb_buf[vb_off[i] : vb_off[i + 1]])
        for i in range(starts.size)
    ]
    return b"".join(parts), np.minimum(vb_nb, fo_nb) + 1


def auto_decode(buf: bytes) -> np.ndarray:
    if len(buf) == 0:
        return np.zeros(0, dtype=np.uint64)
    body = buf[1:]
    return for_decode(body) if buf[:1] == b"\x01" else vb_decode(body)


#: codec name → (group encoder, single-array decoder)
CODECS = {
    "vbyte": (vb_encode_groups, vb_decode),
    "for": (for_encode_groups, for_decode),
    "auto": (auto_encode_groups, auto_decode),
}
DEFAULT_CODEC = "vbyte"


def decode_block(
    gaps_bin: bytes,
    tfs_bin: bytes,
    dls_bin: bytes,
    base: int,
    codec_name: str = DEFAULT_CODEC,
):
    _, dec = CODECS[codec_name]
    docs = delta_decode(dec(gaps_bin), base)
    return docs, dec(tfs_bin).astype(np.int64), dec(dls_bin).astype(np.int64)

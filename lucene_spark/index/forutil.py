"""Vectorized FOR / PForDelta block codecs for postings (numpy, Arrow-friendly).

Role parity with the reference postings codec
(``codecs/lucene104/ForUtil.java:34`` — BLOCK_SIZE=256 fixed-width frames;
``codecs/lucene104/PForUtil.java:28-100`` — patched frames with <=7
exceptions), re-designed for numpy batch encode/decode inside Arrow pandas
UDFs rather than a Java bitstream:

- ``for_encode``/``for_decode``: fixed bit-width little-endian bitstream,
  width = max bit-length in the block (header byte carries the width).
- ``pfor_encode``/``pfor_decode``: low ``width`` bits packed as FOR plus up
  to ``MAX_EXCEPTIONS`` patched (index, high-bits) pairs, width chosen to
  minimize encoded size.
- doc IDs are stored as gaps (``delta_encode``/``delta_decode``) against the
  block's ``first_doc``.

All encode/decode paths are numpy-vectorized (no per-element Python loops).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "BLOCK_SIZE",
    "MAX_EXCEPTIONS",
    "for_encode",
    "for_decode",
    "pfor_encode",
    "pfor_decode",
    "delta_encode",
    "delta_decode",
]

BLOCK_SIZE = 256  # docs per postings block (Lucene104PostingsFormat.java:343)
MAX_EXCEPTIONS = 7  # PFor patch budget (PForUtil.java)


def _bit_width(values: np.ndarray) -> int:
    m = int(values.max(initial=0))
    return max(1, m.bit_length())


def _pack_bits(values: np.ndarray, width: int) -> bytes:
    """Pack uint32 values into a little-endian bitstream of `width` bits each."""
    v = values.astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8).reshape(-1)
    return np.packbits(bits, bitorder="little").tobytes()


def _unpack_bits(buf: bytes, n: int, width: int) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), bitorder="little")
    bits = bits[: n * width].reshape(n, width).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    return (bits * weights).sum(axis=1).astype(np.uint32)


def for_encode(values: np.ndarray) -> bytes:
    """Frame-of-reference: [width:u8][n:u16le][packed bits]."""
    n = len(values)
    if n == 0:
        return b"\x01\x00\x00"
    if n == 1:  # scalar fast path (df=1 terms dominate code corpora)
        v = int(values[0])
        width = max(1, v.bit_length())
        return bytes([width, 1, 0]) + v.to_bytes((width + 7) // 8, "little")
    values = np.ascontiguousarray(values, dtype=np.uint32)
    width = _bit_width(values)
    header = bytes([width, n & 0xFF, (n >> 8) & 0xFF])
    return header + _pack_bits(values, width)


def for_decode(buf: bytes) -> np.ndarray:
    width = buf[0]
    n = buf[1] | (buf[2] << 8)
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    return _unpack_bits(buf[3:], n, width)


def pfor_encode(values: np.ndarray) -> bytes:
    """Patched FOR: FOR on low bits + <=MAX_EXCEPTIONS (idx,u32 high) patches.

    Layout: [width:u8][n:u16le][n_exc:u8][exc idx:u8 * n_exc]
            [exc high:u32le * n_exc][packed low bits]
    Falls back to plain width (0 exceptions) when patching doesn't pay.
    """
    n = len(values)
    if n == 0:
        return b"\x01\x00\x00\x00"
    if n == 1:  # patching never pays for one value: plain width, 0 exceptions
        v = int(values[0])
        width = max(1, v.bit_length())
        return bytes([width, 1, 0, 0]) + v.to_bytes((width + 7) // 8, "little")
    values = np.ascontiguousarray(values, dtype=np.uint32)
    full_width = _bit_width(values)
    best = (full_width, 0)  # (width, n_exceptions)
    best_bits = n * full_width
    for width in range(1, full_width):
        n_exc = int((values >= (1 << width)).sum())
        if n_exc > MAX_EXCEPTIONS:
            continue
        cost = n * width + n_exc * 40  # 8-bit idx + 32-bit high
        if cost < best_bits:
            best_bits, best = cost, (width, n_exc)
    width, _ = best
    exc_idx = np.nonzero(values >= (1 << width))[0].astype(np.uint8)
    exc_high = (values[exc_idx].astype(np.uint64) >> np.uint64(width)).astype(
        np.uint32
    )
    low = values & np.uint32((1 << width) - 1)
    header = bytes([width, n & 0xFF, (n >> 8) & 0xFF, len(exc_idx)])
    return (
        header
        + exc_idx.tobytes()
        + exc_high.astype("<u4").tobytes()
        + _pack_bits(low, width)
    )


def pfor_decode(buf: bytes) -> np.ndarray:
    width = buf[0]
    n = buf[1] | (buf[2] << 8)
    n_exc = buf[3]
    off = 4
    exc_idx = np.frombuffer(buf, dtype=np.uint8, count=n_exc, offset=off)
    off += n_exc
    exc_high = np.frombuffer(buf, dtype="<u4", count=n_exc, offset=off)
    off += 4 * n_exc
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    values = _unpack_bits(buf[off:], n, width)
    if n_exc:
        values = values.copy()
        values[exc_idx] |= exc_high.astype(np.uint32) << np.uint32(width)
    return values


def delta_encode(doc_ids: np.ndarray) -> tuple[int, np.ndarray]:
    """Strictly increasing doc IDs -> (first_doc, uint32 gaps[n-1]).

    Raises ``ValueError`` on a gap that the uint32 format cannot hold: a
    gap <= 0 (unsorted or duplicate ids) or >= 2**32 (e.g. a block that
    spans batch-built ids and the NRT range from 2**40) would otherwise
    wrap and decode to different doc ids."""
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if len(doc_ids) == 0:
        return 0, np.empty(0, dtype=np.uint32)
    gaps = np.diff(doc_ids)
    bad = np.flatnonzero((gaps <= 0) | (gaps > 0xFFFFFFFF))
    if len(bad):
        i = int(bad[0])
        raise ValueError(
            f"doc id gap {int(gaps[i])} between {int(doc_ids[i])} and "
            f"{int(doc_ids[i + 1])} does not fit the uint32 gap format "
            "(ids must be strictly increasing, gaps < 2**32)"
        )
    return int(doc_ids[0]), gaps.astype(np.uint32)


def delta_decode(first_doc: int, gaps: np.ndarray) -> np.ndarray:
    n = len(gaps) + 1
    out = np.empty(n, dtype=np.int64)
    out[0] = first_doc
    if n > 1:
        np.cumsum(gaps.astype(np.int64), out=out[1:])
        out[1:] += first_doc
    return out

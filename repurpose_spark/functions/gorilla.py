"""Gorilla-style compression codecs (Facebook Gorilla, VLDB'15).

The engine's analog of the reference's storage-side packing —
``scale_factor``/``add_offset`` int encoding + zlib-6 chunks
(ts2img.py:333-340, :413-419, stack.py:233-238) — applied to per-cell
token/timestamp/value streams as ``binary`` columns:

* **delta-of-delta** for integer/timestamp streams: zigzag(DoD) packed in
  128-value blocks at the block's max bit width,
* **XOR floats**: xor of consecutive float64 bit patterns, packed per
  block at the block's common (leading, meaningful-width) window.

Both are implemented with numpy bit ops only (no per-row Python inside
the numeric path) and wrapped as Arrow-batched pandas UDFs, per the
BASELINE.json input_hint.  Fixed little-endian layout → byte-identical
output across runs/partitions.

Layout (little-endian):
  magic 'RSG1' | codec u8 | n u64 | head values | nblocks u32 |
  per-block params | concatenated packed payloads
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType

MAGIC = b"RSG1"
CODEC_DOD = 1
CODEC_XOR = 2
BLOCK = 128


# ---------------------------------------------------------------- bit pack
def _pack_block(vals: np.ndarray, width: int) -> bytes:
    """Pack uint64 values at fixed bit width (MSB-first within value)."""
    if width == 0:
        return b""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((vals[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_block(buf: bytes, n: int, width: int) -> np.ndarray:
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=n * width)
    weights = (np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64))
    return (bits.reshape(n, width).astype(np.uint64) * weights).sum(
        axis=1, dtype=np.uint64
    )


def _zigzag(v: np.ndarray) -> np.ndarray:
    u = v.astype(np.int64)
    return ((u << 1) ^ (u >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.view(np.uint64) if u.dtype != np.uint64 else u
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(u & np.uint64(1)).astype(
        np.int64
    )


def _bit_width(vals: np.ndarray) -> int:
    m = int(vals.max()) if len(vals) else 0
    return m.bit_length()


# ---------------------------------------------------------- delta-of-delta
def dod_encode(arr: np.ndarray) -> bytes:
    """Encode an int64 stream: head (v0, d0) raw + zigzag(DoD) blocks."""
    a = np.asarray(arr, dtype=np.int64)
    n = len(a)
    out = [MAGIC, struct.pack("<BQ", CODEC_DOD, n)]
    if n == 0:
        return b"".join(out)
    out.append(struct.pack("<q", int(a[0])))
    if n == 1:
        return b"".join(out)
    deltas = np.diff(a)
    out.append(struct.pack("<q", int(deltas[0])))
    dod = np.diff(deltas)
    z = _zigzag(dod)
    nblocks = (len(z) + BLOCK - 1) // BLOCK
    out.append(struct.pack("<I", nblocks))
    widths, payloads = [], []
    for b in range(nblocks):
        blk = z[b * BLOCK : (b + 1) * BLOCK]
        w = _bit_width(blk)
        widths.append(w)
        payloads.append(_pack_block(blk, w))
    out.append(bytes(widths))
    out.extend(payloads)
    return b"".join(out)


def dod_decode(buf: bytes) -> np.ndarray:
    assert buf[:4] == MAGIC, "bad magic"
    codec, n = struct.unpack_from("<BQ", buf, 4)
    assert codec == CODEC_DOD, "not a DoD stream"
    off = 13
    if n == 0:
        return np.empty(0, dtype=np.int64)
    (v0,) = struct.unpack_from("<q", buf, off)
    off += 8
    if n == 1:
        return np.array([v0], dtype=np.int64)
    (d0,) = struct.unpack_from("<q", buf, off)
    off += 8
    (nblocks,) = struct.unpack_from("<I", buf, off)
    off += 4
    widths = list(buf[off : off + nblocks])
    if not any(widths):
        # every DoD value is zero (a regular stream: tier ticks, constant
        # counts): v0 + d0·arange(n), with no bit unpacking
        return v0 + d0 * np.arange(n, dtype=np.int64)
    off += nblocks
    m = n - 2  # number of DoD values
    zs = []
    for b in range(nblocks):
        cnt = min(BLOCK, m - b * BLOCK)
        nbytes = (cnt * widths[b] + 7) // 8
        zs.append(_unpack_block(buf[off : off + nbytes], cnt, widths[b]))
        off += nbytes
    dod = _unzigzag(np.concatenate(zs) if zs else np.empty(0, dtype=np.uint64))
    deltas = np.concatenate(([d0], d0 + np.cumsum(dod)))
    return np.concatenate(([v0], v0 + np.cumsum(deltas))).astype(np.int64)


# ----------------------------------------------------------------- XOR f64
def xor_encode(arr: np.ndarray) -> bytes:
    """Gorilla XOR for float64: block-adaptive (leading, width) window."""
    a = np.ascontiguousarray(np.asarray(arr, dtype=np.float64))
    n = len(a)
    out = [MAGIC, struct.pack("<BQ", CODEC_XOR, n)]
    if n == 0:
        return b"".join(out)
    bits = a.view(np.uint64)
    out.append(struct.pack("<Q", int(bits[0])))
    if n == 1:
        return b"".join(out)
    x = bits[1:] ^ bits[:-1]
    nblocks = (len(x) + BLOCK - 1) // BLOCK
    out.append(struct.pack("<I", nblocks))
    params, payloads = [], []
    for b in range(nblocks):
        blk = x[b * BLOCK : (b + 1) * BLOCK]
        nz = blk[blk != 0]
        if len(nz) == 0:
            lead, width = 64, 0
        else:
            # common window across the block: min leading zeros come from
            # the block max; min trailing zeros from the lowest set bit of
            # the OR-reduction (vectorized — no per-value python)
            lz = 64 - int(nz.max()).bit_length()
            ored = int(np.bitwise_or.reduce(nz))
            tz = (ored & -ored).bit_length() - 1
            lead, width = lz, 64 - lz - tz
        params.append(struct.pack("<BB", lead, width))
        if width:
            shifted = blk >> np.uint64(64 - lead - width)
            payloads.append(_pack_block(shifted, width))
    out.extend(params)
    out.extend(payloads)
    return b"".join(out)


def xor_decode(buf: bytes) -> np.ndarray:
    assert buf[:4] == MAGIC, "bad magic"
    codec, n = struct.unpack_from("<BQ", buf, 4)
    assert codec == CODEC_XOR, "not an XOR stream"
    off = 13
    if n == 0:
        return np.empty(0, dtype=np.float64)
    (b0,) = struct.unpack_from("<Q", buf, off)
    off += 8
    if n == 1:
        return np.array([b0], dtype=np.uint64).view(np.float64)
    (nblocks,) = struct.unpack_from("<I", buf, off)
    off += 4
    params = [struct.unpack_from("<BB", buf, off + 2 * i) for i in range(nblocks)]
    off += 2 * nblocks
    m = n - 1
    xs = []
    for b, (lead, width) in enumerate(params):
        cnt = min(BLOCK, m - b * BLOCK)
        nbytes = (cnt * width + 7) // 8
        vals = _unpack_block(buf[off : off + nbytes], cnt, width)
        off += nbytes
        xs.append(vals << np.uint64(64 - lead - width) if width else vals)
    x = np.concatenate(xs)
    bits = np.empty(n, dtype=np.uint64)
    bits[0] = b0
    np.bitwise_xor.accumulate(np.concatenate(([np.uint64(b0)], x)), out=bits)
    return bits.view(np.float64)


def dod_encode_batch(arrays: list) -> list:
    """Batch DoD encode: byte-identical to ``dod_encode`` per row, but the
    delta-of-delta + zigzag arithmetic runs ONCE over the whole Arrow
    batch (concatenated), not per row — rows in tier tables are short
    (tens of points), so per-row numpy dispatch dominated the per-row
    path.  Regular streams (tier ticks, constant counts) hit the
    width-0 fast path: no packing at all."""
    vals = [np.asarray(a, dtype=np.int64) for a in arrays]
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
    if len(vals) == 0:
        return []
    V = np.concatenate(vals) if len(vals) > 1 else vals[0]
    # global DoD: garbage at row boundaries, sliced away per row below
    Z = np.empty(max(len(V) - 2, 0), dtype=np.uint64)
    if len(V) > 2:
        dod = V[2:] - 2 * V[1:-1] + V[:-2]
        Z[:] = ((dod << 1) ^ (dod >> 63)).view(np.uint64)
    offs = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    out = []
    for i, a in enumerate(vals):
        n = int(lens[i])
        head = [MAGIC, struct.pack("<BQ", CODEC_DOD, n)]
        if n == 0:
            out.append(b"".join(head))
            continue
        head.append(struct.pack("<q", int(a[0])))
        if n == 1:
            out.append(b"".join(head))
            continue
        head.append(struct.pack("<q", int(a[1] - a[0])))
        z = Z[offs[i] : offs[i] + n - 2]
        nblocks = (len(z) + BLOCK - 1) // BLOCK
        head.append(struct.pack("<I", nblocks))
        if len(z) == 0 or not z.max():
            # all-zero DoD (perfectly regular stream): widths 0, no payload
            head.append(bytes(nblocks))
            out.append(b"".join(head))
            continue
        widths, payloads = [], []
        for b in range(nblocks):
            blk = z[b * BLOCK : (b + 1) * BLOCK]
            w = _bit_width(blk)
            widths.append(w)
            payloads.append(_pack_block(blk, w))
        head.append(bytes(widths))
        head.extend(payloads)
        out.append(b"".join(head))
    return out


# ------------------------------------------------------------- Spark UDFs
@F.pandas_udf(BinaryType())
def encode_int_stream(s: pd.Series) -> pd.Series:
    """array<long/int> column → DoD-compressed binary (Arrow-batched,
    batch-vectorized delta arithmetic)."""
    return pd.Series(dod_encode_batch(list(s)), index=s.index)


@F.pandas_udf(ArrayType(LongType()))
def decode_int_stream(s: pd.Series) -> pd.Series:
    return s.map(lambda b: dod_decode(bytes(b)))


def xor_encode_batch(arrays: list) -> list:
    """Batch XOR encode: byte-identical to ``xor_encode`` per row; the
    bit-view and xor-of-consecutive arithmetic run once over the whole
    Arrow batch, with an all-identical fast path (constant series)."""
    vals = [np.ascontiguousarray(np.asarray(a, dtype=np.float64)) for a in arrays]
    if not vals:
        return []
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
    V = np.concatenate(vals) if len(vals) > 1 else vals[0]
    B = V.view(np.uint64)
    X = np.empty(max(len(B) - 1, 0), dtype=np.uint64)
    if len(B) > 1:
        X[:] = B[1:] ^ B[:-1]
    offs = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    out = []
    for i in range(len(vals)):
        n = int(lens[i])
        head = [MAGIC, struct.pack("<BQ", CODEC_XOR, n)]
        if n == 0:
            out.append(b"".join(head))
            continue
        o = offs[i]
        head.append(struct.pack("<Q", int(B[o])))
        if n == 1:
            out.append(b"".join(head))
            continue
        x = X[o : o + n - 1]
        nblocks = (len(x) + BLOCK - 1) // BLOCK
        head.append(struct.pack("<I", nblocks))
        if not x.any():
            # constant series: every block (lead=64, width=0), no payload
            head.append(b"\x40\x00" * nblocks)
            out.append(b"".join(head))
            continue
        params, payloads = [], []
        for b in range(nblocks):
            blk = x[b * BLOCK : (b + 1) * BLOCK]
            nz = blk[blk != 0]
            if len(nz) == 0:
                lead, width = 64, 0
            else:
                lead = 64 - int(nz.max()).bit_length()
                ored = int(np.bitwise_or.reduce(nz))
                tz = (ored & -ored).bit_length() - 1
                lead, width = lead, 64 - lead - tz
            params.append(struct.pack("<BB", lead, width))
            if width:
                payloads.append(
                    _pack_block(blk >> np.uint64(64 - lead - width), width)
                )
        head.extend(params)
        head.extend(payloads)
        out.append(b"".join(head))
    return out


@F.pandas_udf(BinaryType())
def encode_float_stream(s: pd.Series) -> pd.Series:
    """array<double> column → Gorilla-XOR binary (Arrow-batched,
    batch-vectorized xor arithmetic)."""
    return pd.Series(xor_encode_batch(list(s)), index=s.index)


@F.pandas_udf(ArrayType(DoubleType()))
def decode_float_stream(s: pd.Series) -> pd.Series:
    return s.map(lambda b: xor_decode(bytes(b)))

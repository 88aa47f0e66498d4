"""Time-series page codec: delta-of-delta timestamps + Gorilla-style XOR values.

After Facebook's Gorilla TSDB (Pelkonen et al., VLDB 2015, §4.1):

- **Timestamps**: store the first timestamp raw (64 bits) and the first delta
  raw (64 bits, two's complement); every later point stores the
  delta-of-delta ``D = (t_i - t_{i-1}) - (t_{i-1} - t_{i-2})`` with the paper's
  variable-length classes. Gap-filled, tier-aligned series have ``D == 0``
  everywhere → 1 bit per point.
- **Values** (float64): first value raw (64 bits); each later value XORs with
  its predecessor. ``xor == 0`` → single '0' bit; else '1' + 5-bit
  leading-zero count (capped 31) + 6-bit significant-bit length + the
  significant bits. (We always emit the control block rather than reusing the
  previous block window — a simplification that keeps encode vectorizable and
  the format stateless per point; decode is unambiguous.)

A *page* is the columnar encoding of one ``(source, tier)`` run of rollup
points: timestamps stream + one value stream per stat column, each
length-prefixed. Pure NumPy/stdlib — the identical bytes are produced on the
driver (oracle) and inside ``applyInPandas`` (engine), so byte-equality of tier
tables is the correctness gate.

Reference analog: alibi-detect has no storage layer; this implements the
retention-tier encoding mandated by BASELINE.json's north_rule.
"""

from __future__ import annotations

import struct

import numpy as np

_MASK64 = (1 << 64) - 1

# delta-of-delta classes: (prefix_bits, prefix_len, payload_bits, lo, hi).
# Bounds are the payload's two's-complement range [-2^(b-1), 2^(b-1)-1] —
# NOT the Gorilla paper's offset ranges ([-63, 64], …), because the payload
# is stored/read as plain two's complement here; the paper's upper bounds
# (64/256/2048) would wrap (caught by the hypothesis round-trip test).
_DOD_CLASSES = (
    (0b10, 2, 7, -64, 63),
    (0b110, 3, 9, -256, 255),
    (0b1110, 4, 12, -2048, 2047),
)
_DOD_ESC_PREFIX, _DOD_ESC_LEN, _DOD_ESC_BITS = 0b1111, 4, 64


class BitWriter:
    """MSB-first bit writer with a 64-bit staging buffer (O(n))."""

    __slots__ = ("_bytes", "_acc", "_nbits")

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            self._bytes.append((self._acc >> self._nbits) & 0xFF)
        self._acc &= (1 << self._nbits) - 1

    def getvalue(self) -> bytes:
        out = bytes(self._bytes)
        if self._nbits:
            out += bytes([(self._acc << (8 - self._nbits)) & 0xFF])
        return out


class BitReader:
    """MSB-first bit reader over bytes."""

    __slots__ = ("_data", "_pos")

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0  # bit position

    def read(self, nbits: int) -> int:
        out = 0
        pos = self._pos
        data = self._data
        remaining = nbits
        while remaining > 0:
            byte = data[pos >> 3]
            avail = 8 - (pos & 7)
            take = avail if avail < remaining else remaining
            shift = avail - take
            out = (out << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
            remaining -= take
        self._pos = pos
        return out


def _zigzag_free_signed(w: BitWriter, v: int, nbits: int) -> None:
    w.write(v & ((1 << nbits) - 1), nbits)


def _read_signed(r: BitReader, nbits: int) -> int:
    v = r.read(nbits)
    if v >= 1 << (nbits - 1):
        v -= 1 << nbits
    return v


def encode_timestamps(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 timestamp array (ascending, len ≥ 1)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = int(ts.shape[0])
    w = BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(ts[0]) & _MASK64, 64)
    if n == 1:
        return w.getvalue()
    deltas = np.diff(ts)
    _zigzag_free_signed(w, int(deltas[0]), 64)
    dods = np.diff(deltas)
    for d in dods.tolist():
        if d == 0:
            w.write(0, 1)
            continue
        for prefix, plen, bits, lo, hi in _DOD_CLASSES:
            if lo <= d <= hi:
                w.write(prefix, plen)
                _zigzag_free_signed(w, d, bits)
                break
        else:
            w.write(_DOD_ESC_PREFIX, _DOD_ESC_LEN)
            _zigzag_free_signed(w, d, _DOD_ESC_BITS)
    return w.getvalue()


def decode_timestamps(data: bytes) -> np.ndarray:
    r = BitReader(data)
    n = r.read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    first = r.read(64)
    if first >= 1 << 63:
        first -= 1 << 64
    out[0] = first
    if n == 1:
        return out
    delta = _read_signed(r, 64)
    out[1] = out[0] + delta
    for i in range(2, n):
        if r.read(1) == 0:
            pass  # dod == 0
        else:
            # prefix dispatch: '10'→7 bits, '110'→9, '1110'→12, '1111'→64
            if r.read(1) == 0:
                delta += _read_signed(r, 7)
            elif r.read(1) == 0:
                delta += _read_signed(r, 9)
            elif r.read(1) == 0:
                delta += _read_signed(r, 12)
            else:
                delta += _read_signed(r, 64)
        out[i] = out[i - 1] + delta
    return out


def encode_values(values: np.ndarray) -> bytes:
    """Gorilla-XOR encode a float64 array (NaN-safe: NaN has a fixed bit pattern
    only if produced identically — callers must use a canonical NaN, see
    :func:`canonical_nan`)."""
    vals = np.ascontiguousarray(values, dtype=np.float64)
    bits = vals.view(np.uint64)
    n = int(bits.shape[0])
    w = BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(bits[0]), 64)
    if n > 1:
        xors = (bits[1:] ^ bits[:-1]).tolist()
        for x in xors:
            if x == 0:
                w.write(0, 1)
                continue
            lead = 64 - x.bit_length()
            if lead > 31:
                lead = 31
            trail_stripped = x >> _trailing_zeros(x)
            sig = 64 - lead - _trailing_zeros(x)
            w.write(1, 1)
            w.write(lead, 5)
            w.write(sig, 6)  # sig in [1, 64]; 64 encodes as 0 → handled in decode
            w.write(trail_stripped, sig)
    return w.getvalue()


def _trailing_zeros(x: int) -> int:
    return (x & -x).bit_length() - 1


def decode_values(data: bytes) -> np.ndarray:
    r = BitReader(data)
    n = r.read(32)
    out_bits = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out_bits.view(np.float64)
    prev = r.read(64)
    out_bits[0] = prev
    for i in range(1, n):
        if r.read(1) == 0:
            out_bits[i] = prev
            continue
        lead = r.read(5)
        sig = r.read(6)
        if sig == 0:
            sig = 64
        mantissa = r.read(sig)
        trail = 64 - lead - sig
        if trail < 0:  # lead was capped at 31; recompute
            trail = 0
        x = mantissa << trail
        prev ^= x
        out_bits[i] = prev
    return out_bits.view(np.float64)


_PAGE_MAGIC = b"ADS1"


def encode_page(ts: np.ndarray, columns: dict[str, np.ndarray]) -> bytes:
    """Encode one tier page: timestamps + named float64 value streams.

    Layout: magic | u16 ncols | per col (u16 name_len, name utf8) |
    u32 ts_len, ts stream | per col (u32 len, value stream).
    Column order = sorted(name) so the bytes are canonical.
    """
    names = sorted(columns)
    parts = [_PAGE_MAGIC, struct.pack(">H", len(names))]
    for name in names:
        nb = name.encode("utf-8")
        parts.append(struct.pack(">H", len(nb)))
        parts.append(nb)
    ts_stream = encode_timestamps(ts)
    parts.append(struct.pack(">I", len(ts_stream)))
    parts.append(ts_stream)
    for name in names:
        stream = encode_values(columns[name])
        parts.append(struct.pack(">I", len(stream)))
        parts.append(stream)
    return b"".join(parts)


def decode_page(data: bytes) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    assert data[:4] == _PAGE_MAGIC, "bad page magic"
    off = 4
    (ncols,) = struct.unpack_from(">H", data, off)
    off += 2
    names = []
    for _ in range(ncols):
        (nlen,) = struct.unpack_from(">H", data, off)
        off += 2
        names.append(data[off : off + nlen].decode("utf-8"))
        off += nlen
    (tlen,) = struct.unpack_from(">I", data, off)
    off += 4
    ts = decode_timestamps(data[off : off + tlen])
    off += tlen
    cols: dict[str, np.ndarray] = {}
    for name in names:
        (vlen,) = struct.unpack_from(">I", data, off)
        off += 4
        cols[name] = decode_values(data[off : off + vlen])
        off += vlen
    return ts, cols

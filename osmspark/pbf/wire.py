"""Protobuf wire-format decoding, hand-rolled and NumPy-vectorized.

From-scratch implementation of the subset of the protobuf wire format the
OSM PBF container uses (reference semantics: the protoc-generated decoders
in ``/root/reference/lib/proto/index.js``; wire schema in
``lib/proto/fileformat.proto`` + ``lib/proto/osmformat.proto``). No protobuf
library: the packed repeated arrays that dominate byte volume (DenseNodes
id/lat/lon, way refs, relation memids, DenseInfo columns) are decoded with
vectorized NumPy passes (≤10 passes over the byte buffer, one per varint
byte position), not per-value Python loops.

Wire types used by OSM PBF:
  0 = varint, 2 = length-delimited (messages, strings, packed arrays).
(5 = fixed32 / 1 = fixed64 never appear in osmformat.proto.)
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "PbfError",
    "read_varint",
    "read_field",
    "decode_packed_varints",
    "zigzag_decode",
    "decode_packed_sint64",
    "decode_packed_uint",
]


class PbfError(ValueError):
    """Decode failure — the reference routes these to opts.error
    (``lib/pbfParser.js:41-47``: every failure hits the error callback
    and the parser closes cleanly).

    ``kind`` is a stable machine-readable category so the Spark-side
    quarantine channel (``source.quarantine_from_pages``) can group
    failures without string-matching human messages:
    ``framing | oversize | inflate | decode``.
    """

    def __init__(self, msg: str, kind: str = "decode"):
        super().__init__(msg)
        self.kind = kind


def read_varint(buf, pos: int) -> tuple[int, int]:
    """Read one base-128 varint at ``pos``; return (value, new_pos).

    Used only for field headers and scalar fields — packed arrays go
    through the vectorized path below. A varint cut off by the end of
    the buffer, longer than 10 bytes or above 2**64 - 1 raises PbfError.
    """
    result = 0
    shift = 0
    try:
        while True:
            b = buf[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not (b & 0x80):
                if result >> 64:
                    raise PbfError("varint overflows 64 bits")
                return result, pos
            shift += 7
            if shift > 63:
                raise PbfError("varint longer than 10 bytes")
    except IndexError:
        raise PbfError("truncated varint") from None


def read_field(mv: memoryview, pos: int):
    """Read the field at ``pos`` → (field_no, wire_type, value, start, end).

    ``value`` is an int for varint and fixed-width fields and the payload
    slice for length-delimited ones; ``mv[start:end]`` holds the value's
    bytes (for a varint, its encoded bytes). Wire types other than 0, 1,
    2 and 5, and values running past the buffer, raise PbfError.
    """
    # one-byte keys and lengths (field numbers < 16, payloads < 128 B)
    # are the common case: read them inline
    try:
        key = mv[pos]
        if key < 0x80:
            start = pos + 1
        else:
            key, start = read_varint(mv, pos)
        wire_type = key & 0x7
        if wire_type == 0:
            value, end = read_varint(mv, start)
            return key >> 3, 0, value, start, end
        if wire_type == 2:
            ln = mv[start]
            if ln < 0x80:
                start += 1
            else:
                ln, start = read_varint(mv, start)
            end = start + ln
        elif wire_type in (1, 5):  # fixed64 / fixed32: unused by osmformat
            end = start + (8 if wire_type == 1 else 4)
        else:
            raise PbfError(f"unsupported wire type {wire_type}")
    except IndexError:
        raise PbfError("truncated varint") from None
    if end > len(mv):
        raise PbfError(f"field {key >> 3} runs {end - len(mv)} bytes past its buffer")
    value = mv[start:end]
    if wire_type != 2:
        value = int.from_bytes(value, "little")
    return key >> 3, wire_type, value, start, end


def decode_packed_varints(buf) -> np.ndarray:
    """Decode a packed varint array → uint64 ndarray, vectorized.

    Strategy: view the whole packed region as a uint8 array; terminal
    bytes are those without the continuation bit. Each varint's value is
    assembled in ≤10 vectorized passes (one per byte position), masked by
    per-varint length. O(total_bytes) work, no Python-level per-value loop.
    """
    data = np.frombuffer(buf, dtype=np.uint8)
    if data.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero(data < 0x80)
    if ends.size == 0 or ends[-1] != data.size - 1:
        raise PbfError("truncated packed varint array")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    out = np.zeros(ends.size, dtype=np.uint64)
    max_len = int(lengths.max())
    if max_len > 10:
        raise PbfError("packed varint longer than 10 bytes")
    payload = (data & 0x7F).astype(np.uint64)
    for i in range(max_len):
        mask = lengths > i
        idx = starts[mask] + i
        out[mask] |= payload[idx] << (7 * i)
    return out


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    """ZigZag: uint64 → int64 ((n >> 1) ^ -(n & 1))."""
    u = u.astype(np.uint64, copy=False)
    return ((u >> 1).astype(np.int64)) ^ -((u & 1).astype(np.int64))


def decode_packed_sint64(buf) -> np.ndarray:
    """Packed sint64 (zigzag varints) → int64 ndarray."""
    return zigzag_decode(decode_packed_varints(buf))


def decode_packed_uint(buf) -> np.ndarray:
    """Packed uint/int32 varints → int64 ndarray (no zigzag)."""
    return decode_packed_varints(buf).astype(np.int64)

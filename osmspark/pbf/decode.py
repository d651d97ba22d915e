"""OSM PBF decode: file blocks → blobs → PrimitiveBlock → entity columns.

From-scratch vectorized re-implementation of the reference decode pipeline
(semantics per marook/osm-read — SURVEY.md §1-§3):

* block framing: 4-byte big-endian BlobHeader size, then BlobHeader, then
  ``datasize`` Blob bytes (reference ``lib/pbfParser.js:189-243``,
  ``lib/nodejs/fsReader.js:8-27``).
* zlib blobs, plus uncompressed (``Blob.raw``) ones — the reference
  rejects raw (``lib/pbfParser.js:604-606``) but they are legal PBF
  (``lib/proto/fileformat.proto:29-41``); 32 MiB element cap
  (``lib/nodejs/fsReader.js:25-27``).
* per-block string table, UTF-8 decoded once (``lib/pbfParser.js:245-264``).
* DenseNodes delta decode = int64 prefix sums (``lib/pbfParser.js:314-367``)
  — done with ``np.cumsum``; coordinates dequantized with the literal
  ``(offset + granularity * x) / 1e9`` double expression
  (``lib/pbfParser.js:378-379``) for bit parity.
* timestamps = Σdelta × date_granularity → epoch ms
  (``lib/pbfParser.js:357,424``).
* ids kept as int64 **and** stringified (``'' + id``,
  ``lib/pbfParser.js:377``) for parity with the reference's string ids.

Every message is read by one collector, ``collect``: given a list of
message buffers and a field spec it returns each scalar field as one
value per message and each repeated field as flat values plus
per-message offsets, decoding all packed chunks of a field in one
vectorized pass. DenseNodes, DenseInfo, Node+Info, Way and Relation are
each a short spec on top of it.

Every PrimitiveGroup decodes to one columnar shape, ``DecodedGroup(kind,
cols)``: ``cols["n"]`` rows, an ``id`` array, ``tag_offsets[n+1]`` into
flat ``tag_keys``/``tag_vals``, then per kind ``lat``/``lon`` (nodes),
``ref_offsets`` + ``refs`` (ways) or ``member_offsets`` +
``member_refs``/``member_roles``/``member_types`` (relations), and the
six ``INFO_COLUMNS`` — each None when absent from the whole group, an
array otherwise (object dtype with None where absent from some rows).
The Spark layer (``osmspark.pbf.source``) builds Arrow arrays straight
from these flat arrays, with no row-at-a-time hop.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np

from .wire import PbfError, decode_packed_sint64, decode_packed_uint, read_field, zigzag_decode

MAX_ELEMENT_SIZE = 32 * 1024 * 1024  # lib/nodejs/fsReader.js:25-27
MEMBER_TYPES = np.array(["node", "way", "relation"], dtype=object)
INFO_COLUMNS = ("version", "timestamp_ms", "changeset", "uid", "user", "visible")


# --------------------------------------------------------------------------
# the field collector
# --------------------------------------------------------------------------

# field kinds: one value per message ...
UINT, SINT, BYTES = "uint", "sint", "bytes"
# ... or repeated
UINTS, SINTS, BYTES_LIST = "uint*", "sint*", "bytes*"


def collect(bufs: list, spec: dict[int, tuple[str, str]]) -> dict:
    """Read the ``spec`` fields of every message in ``bufs`` in one pass.

    ``spec`` maps a field number to ``(name, kind)``; the result maps
    ``name`` to, per kind:

    * ``uint`` / ``sint`` — ``(values, present)``: int64[n] (zigzag
      decoded for ``sint``; 0 where absent) and bool[n]. A repeated
      occurrence overwrites the earlier one, as in protobuf.
    * ``bytes`` — a list of n payload slices, None where absent.
    * ``uint*`` / ``sint*`` — ``(flat int64 values, offsets int64[n+1])``.
      Packed chunks and unpacked values are taken in wire order (an
      unpacked varint's bytes are a one-value packed chunk), and every
      chunk of the field is decoded by one vectorized pass.
    * ``bytes*`` — ``(flat list of payload slices, offsets int64[n+1])``.

    A None buffer reads as an empty message; fields not in ``spec`` are
    skipped. A field whose wire type does not match its kind raises
    PbfError.
    """
    n = len(bufs)
    # field → (owning messages, values, wire type it must have, whether
    # it may also come unpacked)
    slots = {f: ([], [], 0 if kind in (UINT, SINT) else 2, kind in (UINTS, SINTS))
             for f, (_, kind) in spec.items()}
    for i, buf in enumerate(bufs):
        if buf is None:
            continue
        mv = memoryview(buf)
        pos = 0
        end = len(mv)
        while pos < end:
            f, w, value, start, pos = read_field(mv, pos)
            slot = slots.get(f)
            if slot is None:
                continue
            owners, values, wire, unpackable = slot
            if w != wire:
                if w != 0 or not unpackable:
                    raise PbfError(f"field {f} has wire type {w}")
                value = mv[start:pos]  # an unpacked value: a one-value packed chunk
            owners.append(i)
            values.append(value)
    out = {}
    for f, (name, kind) in spec.items():
        owners, values, _, _ = slots[f]
        if kind == BYTES:
            col = [None] * n
            for i, v in zip(owners, values):
                col[i] = v
            out[name] = col
        elif kind in (UINT, SINT):
            raw = np.zeros(n, dtype=np.uint64)
            raw[owners] = np.array(values, dtype=np.uint64)
            present = np.zeros(n, dtype=bool)
            present[owners] = True
            out[name] = (zigzag_decode(raw) if kind == SINT else raw.view(np.int64)), present
        else:
            # message i owns chunks bounds[i]:bounds[i + 1] (owners ascend)
            bounds = np.searchsorted(np.array(owners, dtype=np.int64), np.arange(n + 1))
            out[name] = (values, bounds) if kind == BYTES_LIST else _varints(values, kind, bounds)
    return out


def _varints(chunks: list, kind: str, bounds: np.ndarray):
    """Packed varint chunks → (flat values, per-message offsets), with
    one vectorized decode over the chunks joined."""
    data = b"".join(chunks)
    arr = np.frombuffer(data, dtype=np.uint8)
    lens = np.fromiter(map(len, chunks), dtype=np.int64, count=len(chunks))
    ends = np.cumsum(lens)
    # a chunk ending mid-varint would silently merge with the next one
    if (arr[ends[lens > 0] - 1] & 0x80).any():
        raise PbfError("truncated packed varint")
    vals = decode_packed_sint64(data) if kind == SINTS else decode_packed_uint(data)
    if bounds.size == 2:  # one message
        return vals, np.array([0, vals.size])
    # values before each message = terminator bytes (continuation bit
    # clear) before its first byte
    terms = np.zeros(arr.size + 1, dtype=np.int64)
    np.cumsum(arr < 0x80, out=terms[1:])
    return vals, terms[np.concatenate([[0], ends])[bounds]]


def collect_one(buf, spec: dict[int, tuple[str, str]]) -> dict:
    """``collect`` over one message: scalars become an int or None,
    ``bytes`` a slice or None, repeated fields their flat values."""
    got = collect([buf], spec)
    out = {}
    for name, kind in spec.values():
        v = got[name][0]
        if kind in (UINT, SINT):
            v = int(v[0]) if got[name][1][0] else None
        out[name] = v
    return out


def _delta_decode(deltas: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-message prefix sums of delta-coded values, from one global
    cumsum minus each message's base."""
    total = np.cumsum(deltas)
    base = np.concatenate([[0], total])[offsets[:-1]]
    return total - np.repeat(base, np.diff(offsets))


def _utf8(b) -> str:
    try:
        return str(b, "utf-8")
    except UnicodeDecodeError as e:
        raise PbfError(f"invalid UTF-8 string: {e}") from None


# --------------------------------------------------------------------------
# block framing
# --------------------------------------------------------------------------

_BLOB_HEADER = {1: ("type", BYTES), 3: ("datasize", UINT)}
_BLOB = {1: ("raw", BYTES), 2: ("raw_size", UINT), 3: ("zlib_data", BYTES)}


@dataclass
class FileBlock:
    """One entry of the block manifest (reference 'fileBlocks' list)."""

    blob_idx: int
    type: str            # 'OSMHeader' | 'OSMData'
    position: int        # offset of the Blob payload in the file
    size: int            # Blob payload byte length


def split_file_blocks(data: bytes) -> list[tuple[FileBlock, bytes]]:
    """Walk the framing: [4B BE header size][BlobHeader][Blob]* until EOF.

    Returns (manifest entry, raw Blob bytes) pairs. This is the reference's
    ``readFileBlocks`` index pass, except we already hold the bytes (they
    live in the ``html`` binary column of the pages table).
    """
    return list(iter_file_blocks(data))


def iter_file_blocks(data: bytes):
    """Generator form of ``split_file_blocks`` — blocks already yielded
    survive a framing PbfError raised mid-walk, which is what the
    quarantine channel needs (framing is a prefix scan: after a bad
    frame there is no resync point, but everything before it is good).
    """
    mv = memoryview(data)
    pos = 0
    idx = 0
    n = len(mv)
    while pos < n:
        if n - pos < 4:
            raise PbfError("truncated file block length", kind="framing")
        header_size = int.from_bytes(mv[pos : pos + 4], "big")
        if header_size <= 0 or header_size > MAX_ELEMENT_SIZE:
            raise PbfError(f"invalid blob header size {header_size}", kind="framing")
        pos += 4
        header_buf = mv[pos : pos + header_size]
        if len(header_buf) < header_size:
            raise PbfError("truncated BlobHeader", kind="framing")
        pos += header_size
        header = collect_one(header_buf, _BLOB_HEADER)
        datasize = header["datasize"]
        if datasize is None or datasize < 0:
            raise PbfError("BlobHeader missing datasize", kind="framing")
        if datasize > MAX_ELEMENT_SIZE:
            raise PbfError(
                f"PBF element at {pos} exceeds maximum size: {datasize} > {MAX_ELEMENT_SIZE}",
                kind="oversize",
            )
        blob = bytes(mv[pos : pos + datasize])
        if len(blob) < datasize:
            raise PbfError("truncated Blob payload", kind="framing")
        pos += datasize
        blob_type = "" if header["type"] is None else _utf8(header["type"])
        yield FileBlock(idx, blob_type, pos - datasize, datasize), blob
        idx += 1


def inflate_blob(blob_buf: bytes) -> bytes:
    """Blob message → decompressed payload: zlib (Blob.zlib_data) or
    uncompressed (Blob.raw).

    The reference rejects ``raw`` with 'Uncompressed pbfs are currently
    not supported' (``lib/pbfParser.js:604-606``) — that is its TODO,
    not a format semantic: ``Blob.raw`` is legal PBF per
    ``lib/proto/fileformat.proto:29-41``, so this engine accepts it
    behind the same interface (golden parity pinned by
    ``tests/test_pbf_golden.py::test_raw_blob_decodes``)."""
    blob = collect_one(blob_buf, _BLOB)
    raw_size = blob["raw_size"] or 0
    if raw_size > MAX_ELEMENT_SIZE:
        raise PbfError(f"raw_size {raw_size} exceeds maximum size {MAX_ELEMENT_SIZE}",
                       kind="inflate")
    if blob["zlib_data"] is None:
        if blob["raw"] is not None:
            raw = bytes(blob["raw"])
            if raw_size and len(raw) != raw_size:
                raise PbfError(
                    f"raw size {len(raw)} != raw_size {raw_size}",
                    kind="inflate")
            return raw
        raise PbfError("Blob has no payload", kind="inflate")
    # the format caps the inflated blob at 32 MiB too; stop one byte past
    # it so a small compressed payload cannot inflate without bound
    inflater = zlib.decompressobj()
    try:
        out = inflater.decompress(blob["zlib_data"], MAX_ELEMENT_SIZE + 1)
    except zlib.error as e:
        raise PbfError(f"zlib inflate failed: {e}", kind="inflate") from e
    if len(out) > MAX_ELEMENT_SIZE:
        raise PbfError(f"inflated blob exceeds maximum size {MAX_ELEMENT_SIZE}",
                       kind="inflate")
    if not inflater.eof:
        raise PbfError("zlib inflate failed: incomplete or truncated stream",
                       kind="inflate")
    if raw_size and len(out) != raw_size:
        raise PbfError(f"inflated size {len(out)} != raw_size {raw_size}",
                       kind="inflate")
    return out


# --------------------------------------------------------------------------
# header block
# --------------------------------------------------------------------------

_HEADER = {1: ("bbox", BYTES), 4: ("required_features", BYTES_LIST),
           5: ("optional_features", BYTES_LIST), 16: ("writingprogram", BYTES),
           17: ("source", BYTES)}
_BBOX = {1: ("left", SINT), 2: ("right", SINT), 3: ("top", SINT), 4: ("bottom", SINT)}


def decode_header_block(buf: bytes) -> dict:
    """HeaderBlock → dict (bbox nanodegrees, features, writingprogram...)."""
    h = collect_one(buf, _HEADER)
    return {
        "bbox": None if h["bbox"] is None else collect_one(h["bbox"], _BBOX),
        "required_features": [_utf8(b) for b in h["required_features"]],
        "optional_features": [_utf8(b) for b in h["optional_features"]],
        "writingprogram": None if h["writingprogram"] is None else _utf8(h["writingprogram"]),
        "source": None if h["source"] is None else _utf8(h["source"]),
    }


# --------------------------------------------------------------------------
# primitive block (osmformat.proto field numbers)
# --------------------------------------------------------------------------

_BLOCK = {1: ("stringtable", BYTES), 2: ("groups", BYTES_LIST),
          17: ("granularity", UINT), 18: ("date_granularity", UINT),
          19: ("lat_offset", UINT), 20: ("lon_offset", UINT)}
_GROUP = {1: ("nodes", BYTES_LIST), 2: ("dense", BYTES),
          3: ("ways", BYTES_LIST), 4: ("relations", BYTES_LIST)}
_STRINGTABLE = {1: ("s", BYTES_LIST)}
_INFO = {1: ("version", UINT), 2: ("timestamp", UINT), 3: ("changeset", UINT),
         4: ("uid", UINT), 5: ("user_sid", UINT), 6: ("visible", UINT)}
_DENSE_INFO = {1: ("version", UINTS), 2: ("timestamp", SINTS), 3: ("changeset", SINTS),
               4: ("uid", SINTS), 5: ("user_sid", SINTS), 6: ("visible", UINTS)}
_DENSE_NODES = {1: ("id", SINTS), 5: ("info", BYTES), 8: ("lat", SINTS),
                9: ("lon", SINTS), 10: ("keys_vals", UINTS)}
_NODE = {1: ("id", SINT), 2: ("keys", UINTS), 3: ("vals", UINTS), 4: ("info", BYTES),
         8: ("lat", SINT), 9: ("lon", SINT)}
_WAY = {1: ("id", UINT), 2: ("keys", UINTS), 3: ("vals", UINTS), 4: ("info", BYTES),
        8: ("refs", SINTS)}
_RELATION = {1: ("id", UINT), 2: ("keys", UINTS), 3: ("vals", UINTS), 4: ("info", BYTES),
             8: ("roles", UINTS), 9: ("memids", SINTS), 10: ("types", UINTS)}


@dataclass
class StringTable:
    """Per-block dictionary. Entry 0 is the reserved delimiter (empty)."""

    entries: np.ndarray  # object array of str

    @classmethod
    def decode(cls, buf) -> "StringTable":
        # UTF-8 decode once per entry — reference memoizes per entry
        # (lib/pbfParser.js:245-259); we decode the whole table eagerly
        # because every entry is touched by the columnar tag assembly.
        raw = collect_one(buf, _STRINGTABLE)["s"]
        return cls(np.array([_utf8(b) for b in raw], dtype=object))

    def take(self, idx: np.ndarray) -> np.ndarray:
        if idx.size and (idx.min() < 0 or idx.max() >= self.entries.size):
            raise PbfError(f"string index out of range for a "
                           f"{self.entries.size}-entry string table")
        return self.entries[idx]


@dataclass
class DecodedGroup:
    """One PrimitiveGroup decoded to columns (see the module docstring)."""

    kind: str  # 'nodes' | 'ways' | 'relations' | 'empty'
    cols: dict


@dataclass
class DecodedBlock:
    granularity: int
    lat_offset: int
    lon_offset: int
    date_granularity: int
    string_table: StringTable
    groups: list = field(default_factory=list)  # of DecodedGroup


def _degrees(q: np.ndarray, offset: int, granularity: int) -> np.ndarray:
    # literal reference expression order for bit parity (pbfParser.js:378-379)
    return (np.float64(offset) + np.float64(granularity) * q.astype(np.float64)) / 1e9


def _nullable(values: np.ndarray, present: np.ndarray):
    """Column absent from the whole group → None; partly absent → object
    array with None in the absent rows."""
    if not present.any():
        return None
    if present.all():
        return values
    out = values.astype(object)
    out[~present] = None
    return out


def _info_columns(vals: dict, present: dict, blk: DecodedBlock) -> dict:
    """Raw Info/DenseInfo fields → the six ``INFO_COLUMNS``."""
    return {
        "version": _nullable(vals["version"], present["version"]),
        "timestamp_ms": _nullable(vals["timestamp"] * np.int64(blk.date_granularity),
                                  present["timestamp"]),
        "changeset": _nullable(vals["changeset"], present["changeset"]),
        "uid": _nullable(np.array([str(u) for u in vals["uid"].tolist()], dtype=object),
                         present["uid"]),  # '' + uid parity
        "user": _nullable(blk.string_table.take(vals["user_sid"]), present["user_sid"]),
        "visible": _nullable(vals["visible"].astype(bool), present["visible"]),
    }


def _info(msgs: list, blk: DecodedBlock) -> dict:
    """Non-dense Info submessages (osmformat.proto:136-152), None where a
    row has none."""
    f = collect(msgs, _INFO)
    return _info_columns({k: v for k, (v, _) in f.items()},
                         {k: p for k, (_, p) in f.items()}, blk)


def _dense_info(buf, n: int, blk: DecodedBlock) -> dict:
    """DenseInfo (osmformat.proto:155-171): columnar, delta-coded; a
    column absent from the message is absent for every node."""
    f = collect_one(buf, _DENSE_INFO)
    for k in ("timestamp", "changeset", "uid", "user_sid"):
        f[k] = np.cumsum(f[k])
    if any(v.size not in (0, n) for v in f.values()):
        raise PbfError(f"DenseInfo column length differs from {n} nodes")
    return _info_columns(f, {k: np.full(n, v.size == n) for k, v in f.items()}, blk)


def _tags(f: dict, st: StringTable) -> dict:
    (keys, offsets), (vals, val_offsets) = f["keys"], f["vals"]
    if not np.array_equal(offsets, val_offsets):
        raise PbfError("keys and vals differ in length")
    return {"tag_offsets": offsets, "tag_keys": st.take(keys), "tag_vals": st.take(vals)}


def _split_keys_vals(keys_vals: np.ndarray, n_nodes: int, st: StringTable) -> dict:
    """DenseNodes keys_vals: ((key val)* 0)* → per-node key/val id arrays.

    Vectorized: zeros are node delimiters (reference createTagsList,
    lib/pbfParser.js:279-310). Returns tag_offsets[n+1] and the decoded
    keys/vals strings, flattened across nodes.
    """
    if keys_vals.size == 0:
        empty = np.empty(0, dtype=object)
        return {"tag_offsets": np.zeros(n_nodes + 1, dtype=np.int64),
                "tag_keys": empty, "tag_vals": empty}
    zero_pos = np.flatnonzero(keys_vals == 0)
    if zero_pos.size != n_nodes:
        raise PbfError(
            f"keys_vals has {zero_pos.size} delimiters for {n_nodes} nodes"
        )
    # pairs per node = (segment length) / 2
    seg_start = np.empty_like(zero_pos)
    seg_start[0] = 0
    seg_start[1:] = zero_pos[:-1] + 1
    n_pairs = (zero_pos - seg_start) // 2
    offs = np.zeros(n_nodes + 1, dtype=np.int64)
    np.cumsum(n_pairs, out=offs[1:])
    kv = keys_vals[keys_vals != 0]
    return {"tag_offsets": offs, "tag_keys": st.take(kv[0::2]),
            "tag_vals": st.take(kv[1::2])}


def _dense_nodes(buf, blk: DecodedBlock) -> dict:
    f = collect_one(buf, _DENSE_NODES)
    n = f["id"].size
    if f["lat"].size != n or f["lon"].size != n:
        raise PbfError("DenseNodes id/lat/lon lengths differ")
    return {"n": n, "id": np.cumsum(f["id"]),
            "lat": _degrees(np.cumsum(f["lat"]), blk.lat_offset, blk.granularity),
            "lon": _degrees(np.cumsum(f["lon"]), blk.lon_offset, blk.granularity),
            **_split_keys_vals(f["keys_vals"], n, blk.string_table),
            **_dense_info(f["info"], n, blk)}


def _plain_nodes(bufs: list, blk: DecodedBlock) -> dict:
    """Non-dense ``Node`` messages → the same columns as DenseNodes.

    The reference refuses these with 'not supported yet'
    (``lib/pbfParser.js:269-271``); plain nodes are legal PBF and rare
    in real extracts. Coordinates dequantize through the same literal
    expression as the dense path, for bit parity."""
    f = collect(bufs, _NODE)
    return {"n": len(bufs), "id": f["id"][0],
            "lat": _degrees(f["lat"][0], blk.lat_offset, blk.granularity),
            "lon": _degrees(f["lon"][0], blk.lon_offset, blk.granularity),
            **_tags(f, blk.string_table), **_info(f["info"], blk)}


def _ways(bufs: list, blk: DecodedBlock) -> dict:
    f = collect(bufs, _WAY)
    deltas, offsets = f["refs"]
    return {"n": len(bufs), "id": f["id"][0], **_tags(f, blk.string_table),
            "ref_offsets": offsets, "refs": _delta_decode(deltas, offsets),
            **_info(f["info"], blk)}


def _relations(bufs: list, blk: DecodedBlock) -> dict:
    f = collect(bufs, _RELATION)
    (roles, offsets), (memids, mem_offsets), (types, type_offsets) = (
        f["roles"], f["memids"], f["types"])
    if not (np.array_equal(offsets, mem_offsets) and np.array_equal(offsets, type_offsets)):
        raise PbfError("relation roles/memids/types differ in length")
    if types.size and (types.min() < 0 or types.max() >= MEMBER_TYPES.size):
        raise PbfError(f"relation member type {types.max()} out of range")
    return {"n": len(bufs), "id": f["id"][0], **_tags(f, blk.string_table),
            "member_offsets": offsets, "member_refs": _delta_decode(memids, offsets),
            "member_roles": blk.string_table.take(roles),
            "member_types": MEMBER_TYPES[types], **_info(f["info"], blk)}


def _decode_group(buf, blk: DecodedBlock) -> DecodedGroup:
    g = collect_one(buf, _GROUP)
    if g["nodes"] and g["dense"] is not None:
        # osmformat.proto: a PrimitiveGroup holds exactly one kind
        raise PbfError("PrimitiveGroup mixes Node and DenseNodes")
    if g["nodes"]:
        return DecodedGroup("nodes", _plain_nodes(g["nodes"], blk))
    if g["dense"] is not None:
        return DecodedGroup("nodes", _dense_nodes(g["dense"], blk))
    if g["ways"]:
        return DecodedGroup("ways", _ways(g["ways"], blk))
    if g["relations"]:
        return DecodedGroup("relations", _relations(g["relations"], blk))
    return DecodedGroup("empty", {"n": 0})


def decode_primitive_block(buf: bytes) -> DecodedBlock:
    """PrimitiveBlock → DecodedBlock with columnar groups.

    Group order and within-group kind order (nodes→ways→relations) follow
    the reference emission order (lib/pbfParser.js:152-180); we record them
    as lineage indices so Spark-side parity sorts can reconstruct it.
    """
    b = collect_one(buf, _BLOCK)
    if b["stringtable"] is None:
        raise PbfError("PrimitiveBlock missing StringTable")
    blk = DecodedBlock(
        granularity=100 if b["granularity"] is None else b["granularity"],
        lat_offset=b["lat_offset"] or 0,
        lon_offset=b["lon_offset"] or 0,
        date_granularity=1000 if b["date_granularity"] is None else b["date_granularity"],
        string_table=StringTable.decode(b["stringtable"]))
    blk.groups = [_decode_group(g, blk) for g in b["groups"]]
    return blk

"""Spark-facing PBF extraction: pages(url, html) → entity DataFrames.

The reference is a sequential callback pump (``visitNextBlock``,
``lib/pbfParser.js:55-90`` — block N+1 decoded only after block N emitted).
Here each page row decodes independently inside ``mapInArrow`` — the only
JVM↔Python crossing, amortized per Arrow batch — so a 1000-executor
cluster decodes 10^12 pages with no coordination. Entity kinds get
*separate* extraction functions so Catalyst's column pruning plays the role
of the reference's callback-presence pruning (``pbfParser.js:161,168,175``):
asking only for nodes never materializes way/relation columns.

Decoded columns are assembled directly into Arrow arrays (MapArray /
ListArray / StructArray) — no per-row Python objects on the hot path.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .. import model
from .decode import DecodedBlock, PbfError, decode_header_block, decode_primitive_block, inflate_blob, iter_file_blocks, split_file_blocks

__all__ = [
    "decode_page",
    "decode_page_quarantine",
    "quarantine_from_pages",
    "nodes_from_pages",
    "ways_from_pages",
    "relations_from_pages",
    "headers_from_pages",
    "bounds_from_pages",
    "extracted_text_from_pages",
    "render_text",
]


def decode_page(html: bytes) -> list[tuple[int, str, object]]:
    """Decode one page payload → [(block_idx, type, decoded)] in file order.

    ``decoded`` is a DecodedBlock for OSMData and a header dict for
    OSMHeader. Unknown blob types are kept with decoded=None (the
    reference's random-access API exposes them in the manifest too).
    """
    # frame the whole page first: a framing error raises before any
    # blob decodes
    return [_decode_blob(fb, blob) for fb, blob in split_file_blocks(html)]


def _decode_blob(fb, blob) -> tuple[int, str, object]:
    if fb.type == "OSMData":
        return fb.blob_idx, fb.type, decode_primitive_block(inflate_blob(blob))
    if fb.type == "OSMHeader":
        return fb.blob_idx, fb.type, decode_header_block(inflate_blob(blob))
    return fb.blob_idx, fb.type, None


def decode_page_quarantine(
    html: bytes,
) -> tuple[list[tuple[int, str, object]], list[tuple[int, str, str]]]:
    """Per-blob error channel: decode what decodes, record what doesn't.

    Returns (decoded_blocks, errors) where errors is
    [(block_idx, kind, message)]. One corrupt/oversize blob yields one
    error record and every other blob still decodes; a framing error
    ends the page (no resync point after a bad frame) with one record
    carrying the index the walk died at. This is the Spark mapping of
    the reference's error callback (``lib/pbfParser.js:41-47``: failure
    routed to ``opts.error``, parser closed cleanly) — at 10^12-page
    scale one truncated payload must not fail the stage.
    """
    blocks: list[tuple[int, str, object]] = []
    errors: list[tuple[int, str, str]] = []
    it = iter_file_blocks(html)
    next_idx = 0
    while True:
        try:
            fb, blob = next(it)
        except StopIteration:
            break
        except PbfError as e:
            errors.append((next_idx, e.kind, str(e)))
            break
        next_idx = fb.blob_idx + 1
        try:
            blocks.append(_decode_blob(fb, blob))
        except PbfError as e:
            errors.append((fb.blob_idx, e.kind, str(e)))
    return blocks, errors


def _page_blocks(html: bytes, on_error: str) -> list[tuple[int, str, object]]:
    if on_error == "quarantine":
        return decode_page_quarantine(html)[0]
    return decode_page(html)


# --------------------------------------------------------------------------
# Arrow column builders
# --------------------------------------------------------------------------

def _map_array(offsets: np.ndarray, keys: np.ndarray, vals: np.ndarray) -> pa.MapArray:
    return pa.MapArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(keys, type=pa.string()),
        pa.array(vals, type=pa.string()),
    )


def _opt(arr, n: int, dtype) -> pa.Array:
    """Column that may be absent for a whole group → nulls."""
    if arr is None:
        return pa.nulls(n, dtype)
    return pa.array(arr, type=dtype)


class _NodeAccumulator:
    """Accumulates decoded node groups into Arrow-ready column chunks."""

    FIELDS = [f.name for f in model.NODE_SCHEMA.fields]

    def __init__(self):
        self.chunks: list[pa.RecordBatch] = []
        self.n_rows = 0

    def add_group(self, url: str, block_idx: int, group_idx: int, g: dict):
        n = g["n"]
        if n == 0:
            return
        ids = g["id"]
        cols = [
            pa.array(np.repeat(url, n), type=pa.string()),
            pa.array(np.full(n, block_idx, dtype=np.int32)),
            pa.array(np.full(n, group_idx, dtype=np.int32)),
            pa.array(np.arange(n, dtype=np.int32)),
            pa.array(ids, type=pa.int64()),
            pa.array(ids.astype("U"), type=pa.string()),  # '' + id parity
            pa.array(g["lat"], type=pa.float64()),
            pa.array(g["lon"], type=pa.float64()),
            _map_array(g["tag_offsets"], g["tag_keys"], g["tag_vals"]),
            _opt(g["version"], n, pa.int32()),
            _opt(g["timestamp_ms"], n, pa.int64()),
            _opt(g["changeset"], n, pa.int64()),
            _opt(g["uid"], n, pa.string()),
            _opt(g["user"], n, pa.string()),
            _opt(g["visible"], n, pa.bool_()),
        ]
        self.chunks.append(
            pa.RecordBatch.from_arrays(cols, schema=_ARROW_NODE_SCHEMA)
        )
        self.n_rows += n

    def flush(self) -> Iterator[pa.RecordBatch]:
        yield from self.chunks
        self.chunks = []
        self.n_rows = 0


# Arrow schemas are resolved lazily on the executor (model import is cheap).
_ARROW_NODE_SCHEMA = model.to_arrow_schema(model.NODE_SCHEMA)
_ARROW_WAY_SCHEMA = model.to_arrow_schema(model.WAY_SCHEMA)
_ARROW_REL_SCHEMA = model.to_arrow_schema(model.RELATION_SCHEMA)
_ARROW_HEADER_SCHEMA = model.to_arrow_schema(model.HEADER_SCHEMA)
_ARROW_TEXT_SCHEMA = model.to_arrow_schema(model.TEXT_SCHEMA)
_ARROW_QUARANTINE_SCHEMA = model.to_arrow_schema(model.QUARANTINE_SCHEMA)


def _iter_pages(batch: pa.RecordBatch):
    urls = batch.column("url")
    htmls = batch.column("html")
    for i in range(batch.num_rows):
        yield urls[i].as_py(), htmls[i].as_py()


# The ``_*_fn`` decoders are mapInArrow functions; the public API binds
# ``on_error`` with ``partial``. The streaming source uses ``_nodes_fn``
# as is (raise mode).
def _nodes_fn(it: Iterator[pa.RecordBatch], on_error: str = "raise") -> Iterator[pa.RecordBatch]:
    for batch in it:
        acc = _NodeAccumulator()
        for url, html in _iter_pages(batch):
            for block_idx, btype, decoded in _page_blocks(html, on_error):
                if btype != "OSMData":
                    continue
                for group_idx, grp in enumerate(decoded.groups):
                    if grp.kind == "nodes":
                        acc.add_group(url, block_idx, group_idx, grp.nodes)
        yield from acc.flush()


def _info_cols(rows: list[dict]):
    n = len(rows)
    return [
        pa.array([r["version"] for r in rows], type=pa.int32()),
        pa.array([r["timestamp_ms"] for r in rows], type=pa.int64()),
        pa.array([r["changeset"] for r in rows], type=pa.int64()),
        pa.array([r["uid"] for r in rows], type=pa.string()),
        pa.array([r["user"] for r in rows], type=pa.string()),
        pa.array([r["visible"] for r in rows], type=pa.bool_()),
    ]


def _ways_fn(it: Iterator[pa.RecordBatch], on_error: str = "raise") -> Iterator[pa.RecordBatch]:
    for batch in it:
        rows = []
        for url, html in _iter_pages(batch):
            for block_idx, btype, decoded in _page_blocks(html, on_error):
                if btype != "OSMData":
                    continue
                for group_idx, grp in enumerate(decoded.groups):
                    if grp.kind != "ways":
                        continue
                    for row_idx, w in enumerate(grp.ways):
                        rows.append({**w, "url": url, "block_idx": block_idx,
                                     "group_idx": group_idx, "row_idx": row_idx})
        if not rows:
            continue
        tag_offsets = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum([len(r["tag_keys"]) for r in rows], out=tag_offsets[1:])
        ref_offsets = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum([len(r["refs"]) for r in rows], out=ref_offsets[1:])
        flat_refs = (np.concatenate([r["refs"] for r in rows])
                     if rows else np.empty(0, dtype=np.int64))
        cols = [
            pa.array([r["url"] for r in rows], type=pa.string()),
            pa.array([r["block_idx"] for r in rows], type=pa.int32()),
            pa.array([r["group_idx"] for r in rows], type=pa.int32()),
            pa.array([r["row_idx"] for r in rows], type=pa.int32()),
            pa.array([r["id"] for r in rows], type=pa.int64()),
            pa.array([str(r["id"]) for r in rows], type=pa.string()),
            _map_array(tag_offsets,
                       np.concatenate([r["tag_keys"] for r in rows]) if rows else [],
                       np.concatenate([r["tag_vals"] for r in rows]) if rows else []),
            pa.ListArray.from_arrays(pa.array(ref_offsets, type=pa.int32()),
                                     pa.array(flat_refs, type=pa.int64())),
            pa.ListArray.from_arrays(pa.array(ref_offsets, type=pa.int32()),
                                     pa.array(flat_refs.astype("U"), type=pa.string())),
            *_info_cols(rows),
            pa.nulls(len(rows), pa.float64()),  # center_lat: PBF has none
            pa.nulls(len(rows), pa.float64()),
        ]
        yield pa.RecordBatch.from_arrays(cols, schema=_ARROW_WAY_SCHEMA)


def _relations_fn(it: Iterator[pa.RecordBatch], on_error: str = "raise") -> Iterator[pa.RecordBatch]:
    for batch in it:
        rows = []
        for url, html in _iter_pages(batch):
            for block_idx, btype, decoded in _page_blocks(html, on_error):
                if btype != "OSMData":
                    continue
                for group_idx, grp in enumerate(decoded.groups):
                    if grp.kind != "relations":
                        continue
                    for row_idx, r in enumerate(grp.relations):
                        rows.append({**r, "url": url, "block_idx": block_idx,
                                     "group_idx": group_idx, "row_idx": row_idx})
        if not rows:
            continue
        tag_offsets = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum([len(r["tag_keys"]) for r in rows], out=tag_offsets[1:])
        mem_offsets = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum([len(r["member_refs"]) for r in rows], out=mem_offsets[1:])
        flat_refs = np.concatenate([r["member_refs"] for r in rows])
        flat_roles = np.concatenate([r["member_roles"] for r in rows])
        flat_types = np.concatenate([r["member_types"] for r in rows])
        member_struct = pa.StructArray.from_arrays(
            [
                pa.array(flat_refs.astype("U"), type=pa.string()),
                pa.array(flat_roles, type=pa.string()),
                pa.array(flat_types, type=pa.string()),
            ],
            names=["ref", "role", "type"],
        )
        cols = [
            pa.array([r["url"] for r in rows], type=pa.string()),
            pa.array([r["block_idx"] for r in rows], type=pa.int32()),
            pa.array([r["group_idx"] for r in rows], type=pa.int32()),
            pa.array([r["row_idx"] for r in rows], type=pa.int32()),
            pa.array([r["id"] for r in rows], type=pa.int64()),
            pa.array([str(r["id"]) for r in rows], type=pa.string()),
            _map_array(tag_offsets,
                       np.concatenate([r["tag_keys"] for r in rows]),
                       np.concatenate([r["tag_vals"] for r in rows])),
            pa.ListArray.from_arrays(pa.array(mem_offsets, type=pa.int32()),
                                     member_struct),
            *_info_cols(rows),
        ]
        yield pa.RecordBatch.from_arrays(cols, schema=_ARROW_REL_SCHEMA)


def _headers_fn(it: Iterator[pa.RecordBatch], on_error: str = "raise") -> Iterator[pa.RecordBatch]:
    for batch in it:
        rows = []
        for url, html in _iter_pages(batch):
            for block_idx, btype, decoded in _page_blocks(html, on_error):
                if btype == "OSMHeader":
                    rows.append((url, decoded))
        if not rows:
            continue
        bbox = [h.get("bbox") or {} for _, h in rows]
        cols = [
            pa.array([u for u, _ in rows], type=pa.string()),
            pa.array([h["writingprogram"] for _, h in rows], type=pa.string()),
            pa.array([h["source"] for _, h in rows], type=pa.string()),
            pa.array([h["required_features"] for _, h in rows],
                     type=pa.list_(pa.string())),
            pa.array([h["optional_features"] for _, h in rows],
                     type=pa.list_(pa.string())),
            pa.array([b.get("left") for b in bbox], type=pa.int64()),
            pa.array([b.get("right") for b in bbox], type=pa.int64()),
            pa.array([b.get("top") for b in bbox], type=pa.int64()),
            pa.array([b.get("bottom") for b in bbox], type=pa.int64()),
        ]
        yield pa.RecordBatch.from_arrays(cols, schema=_ARROW_HEADER_SCHEMA)


# --------------------------------------------------------------------------
# canonical text extraction (byte-identical per url — BASELINE.json)
# --------------------------------------------------------------------------

def render_text(decoded_blocks: list) -> str:
    """Canonical text rendering of a decoded page — the engine's "extracted
    text". The pages generator stores this exact string in the ``text``
    column, so engine output must match byte-for-byte (input_hint: 'byte-
    identical extracted text per url').

    Format (one line per entity, file order):
      ``N <id> <repr(lat)> <repr(lon)>[ <name-tag>]``
      ``W <id> <ref,ref,...>``
      ``R <id> <type>:<ref>:<role>,...``
    """
    lines: list[str] = []
    for _, btype, decoded in decoded_blocks:
        if btype != "OSMData":
            continue
        for grp in decoded.groups:
            if grp.kind == "nodes":
                g = grp.nodes
                offs = g["tag_offsets"]
                keys = g["tag_keys"]
                vals = g["tag_vals"]
                lat_r = [repr(x) for x in g["lat"].tolist()]
                lon_r = [repr(x) for x in g["lon"].tolist()]
                for i in range(g["n"]):
                    name = ""
                    for j in range(offs[i], offs[i + 1]):
                        if keys[j] == "name":
                            name = " " + vals[j]
                            break
                    lines.append(f"N {g['id'][i]} {lat_r[i]} {lon_r[i]}{name}")
            elif grp.kind == "ways":
                for w in grp.ways:
                    refs = ",".join(str(r) for r in w["refs"].tolist())
                    lines.append(f"W {w['id']} {refs}")
            elif grp.kind == "relations":
                for r in grp.relations:
                    mem = ",".join(
                        f"{t}:{ref}:{role}"
                        for t, ref, role in zip(r["member_types"].tolist(),
                                                r["member_refs"].tolist(),
                                                r["member_roles"].tolist())
                    )
                    lines.append(f"R {r['id']} {mem}")
    return "\n".join(lines)


def _text_fn(it: Iterator[pa.RecordBatch], on_error: str = "raise") -> Iterator[pa.RecordBatch]:
    for batch in it:
        urls, texts = [], []
        for url, html in _iter_pages(batch):
            urls.append(url)
            texts.append(render_text(_page_blocks(html, on_error)))
        if urls:
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, type=pa.string()), pa.array(texts, type=pa.string())],
                schema=_ARROW_TEXT_SCHEMA,
            )


# --------------------------------------------------------------------------
# public DataFrame API
# --------------------------------------------------------------------------

def _pruned(pages: DataFrame) -> DataFrame:
    # explicit projection → parquet scan reads only url+html (ReadSchema)
    return pages.select("url", "html")


def nodes_from_pages(pages: DataFrame, on_error: str = "raise") -> DataFrame:
    """``on_error``: "raise" (parity default — a bad blob fails the job,
    like the reference's fatal error path) or "quarantine" (bad blobs
    are skipped; read them via ``quarantine_from_pages``)."""
    return _pruned(pages).mapInArrow(partial(_nodes_fn, on_error=on_error), model.NODE_SCHEMA)


def ways_from_pages(pages: DataFrame, on_error: str = "raise") -> DataFrame:
    return _pruned(pages).mapInArrow(partial(_ways_fn, on_error=on_error), model.WAY_SCHEMA)


def relations_from_pages(pages: DataFrame, on_error: str = "raise") -> DataFrame:
    return _pruned(pages).mapInArrow(partial(_relations_fn, on_error=on_error), model.RELATION_SCHEMA)


def headers_from_pages(pages: DataFrame, on_error: str = "raise") -> DataFrame:
    return _pruned(pages).mapInArrow(partial(_headers_fn, on_error=on_error), model.HEADER_SCHEMA)


def quarantine_from_pages(pages: DataFrame) -> DataFrame:
    """Bad-record channel: one row per undecodable blob —
    (url, block_idx, kind, error). The decode job itself succeeds; at
    10^12 pages a truncated payload becomes a row here, not a stage
    failure. Reference behavior being mapped: every failure routed to
    the error callback and the parser closed cleanly
    (``lib/pbfParser.js:41-47``)."""
    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            urls: list[str] = []
            idxs: list[int] = []
            kinds: list[str] = []
            msgs: list[str] = []
            for url, html in _iter_pages(batch):
                for block_idx, kind, msg in decode_page_quarantine(html)[1]:
                    urls.append(url)
                    idxs.append(block_idx)
                    kinds.append(kind)
                    msgs.append(msg)
            if urls:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(urls, type=pa.string()),
                     pa.array(idxs, type=pa.int32()),
                     pa.array(kinds, type=pa.string()),
                     pa.array(msgs, type=pa.string())],
                    schema=_ARROW_QUARANTINE_SCHEMA)
    return _pruned(pages).mapInArrow(fn, model.QUARANTINE_SCHEMA)


def bounds_from_pages(pages: DataFrame) -> DataFrame:
    """PBF HeaderBBox as degrees bounds rows — same shape as the XML
    path's ``bounds_from_xml_pages``, so the two formats diff directly
    (reference parity: HeaderBlock.bbox is nanodegrees int64,
    lib/pbfParser.js HeaderBlock handling; XML <bounds> is degrees)."""
    from pyspark.sql import functions as F

    h = headers_from_pages(pages)
    nano = 1e-9
    return (h.filter(F.col("bbox_left").isNotNull())
            .select("url",
                    (F.col("bbox_bottom") * nano).alias("minlat"),
                    (F.col("bbox_left") * nano).alias("minlon"),
                    (F.col("bbox_top") * nano).alias("maxlat"),
                    (F.col("bbox_right") * nano).alias("maxlon")))


def extracted_text_from_pages(pages: DataFrame, on_error: str = "raise") -> DataFrame:
    return _pruned(pages).mapInArrow(partial(_text_fn, on_error=on_error), model.TEXT_SCHEMA)

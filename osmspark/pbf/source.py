"""Spark-facing PBF extraction: pages(url, html) → entity DataFrames.

The reference is a sequential callback pump (``visitNextBlock``,
``lib/pbfParser.js:55-90`` — block N+1 decoded only after block N emitted).
Here each page row decodes independently inside ``mapInArrow`` — the only
JVM↔Python crossing, amortized per Arrow batch — so a 1000-executor
cluster decodes 10^12 pages with no coordination. Each entity kind is its
own ``mapInArrow`` over one shared page → block → group walk. Every
extraction decodes every group kind of every block
(``decode_primitive_block`` has no kind filter); what an extraction
skips is building the Arrow columns of the other kinds, and Catalyst
prunes unused columns above the Python boundary. That is the analogue of
the reference's callback-presence pruning (``pbfParser.js:161,168,175``),
at the column level only.

Each decoded group becomes one Arrow batch built straight from its flat
column arrays (MapArray / ListArray / StructArray) — no per-row Python
objects on the hot path.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .. import model
from .decode import PbfError, decode_header_block, decode_primitive_block, inflate_blob, iter_file_blocks, split_file_blocks

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


# Arrow schemas are resolved lazily on the executor (model import is cheap).
_ARROW_SCHEMAS = {
    "nodes": model.to_arrow_schema(model.NODE_SCHEMA),
    "ways": model.to_arrow_schema(model.WAY_SCHEMA),
    "relations": model.to_arrow_schema(model.RELATION_SCHEMA),
}
_ARROW_HEADER_SCHEMA = model.to_arrow_schema(model.HEADER_SCHEMA)
_ARROW_TEXT_SCHEMA = model.to_arrow_schema(model.TEXT_SCHEMA)
_ARROW_QUARANTINE_SCHEMA = model.to_arrow_schema(model.QUARANTINE_SCHEMA)


def _group_batch(kind: str, url: str, block_idx: int, group_idx: int, g: dict) -> pa.RecordBatch:
    """One decoded group → one Arrow batch in its kind's schema.

    Schema columns named like a decoded column (id, lat, lon, the info
    columns) are taken from it; center_lat/center_lon, which PBF lacks,
    are null."""
    n = g["n"]
    cols = {
        "url": pa.array(np.repeat(url, n), type=pa.string()),
        "block_idx": pa.array(np.full(n, block_idx, dtype=np.int32)),
        "group_idx": pa.array(np.full(n, group_idx, dtype=np.int32)),
        "row_idx": pa.array(np.arange(n, dtype=np.int32)),
        "id_str": pa.array(g["id"].astype("U"), type=pa.string()),  # '' + id parity
        "tags": _map_array(g["tag_offsets"], g["tag_keys"], g["tag_vals"]),
    }
    if kind == "ways":
        offsets = pa.array(g["ref_offsets"], type=pa.int32())
        cols["node_refs"] = pa.ListArray.from_arrays(
            offsets, pa.array(g["refs"], type=pa.int64()))
        cols["node_refs_str"] = pa.ListArray.from_arrays(
            offsets, pa.array(g["refs"].astype("U"), type=pa.string()))
    elif kind == "relations":
        members = pa.StructArray.from_arrays(
            [pa.array(g["member_refs"].astype("U"), type=pa.string()),
             pa.array(g["member_roles"], type=pa.string()),
             pa.array(g["member_types"], type=pa.string())],
            names=["ref", "role", "type"])
        cols["members"] = pa.ListArray.from_arrays(
            pa.array(g["member_offsets"], type=pa.int32()), members)
    schema = _ARROW_SCHEMAS[kind]
    return pa.RecordBatch.from_arrays(
        [cols[f.name] if f.name in cols else _opt(g.get(f.name), n, f.type)
         for f in schema],
        schema=schema)


def _iter_pages(batch: pa.RecordBatch):
    urls = batch.column("url")
    htmls = batch.column("html")
    for i in range(batch.num_rows):
        yield urls[i].as_py(), htmls[i].as_py()


# The ``_*_fn`` decoders are mapInArrow functions; the public API binds
# ``kind`` and ``on_error`` with ``partial``. The streaming source uses
# ``_nodes_fn`` as is (raise mode).
def _entities_fn(it: Iterator[pa.RecordBatch], kind: str,
                 on_error: str = "raise") -> Iterator[pa.RecordBatch]:
    """The page → block → group walk: one batch per non-empty group of
    ``kind``, in file order."""
    for batch in it:
        for url, html in _iter_pages(batch):
            for block_idx, btype, decoded in _page_blocks(html, on_error):
                if btype != "OSMData":
                    continue
                for group_idx, grp in enumerate(decoded.groups):
                    if grp.kind == kind and grp.cols["n"]:
                        yield _group_batch(kind, url, block_idx, group_idx, grp.cols)


def _nodes_fn(it: Iterator[pa.RecordBatch], on_error: str = "raise") -> Iterator[pa.RecordBatch]:
    return _entities_fn(it, "nodes", on_error)


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
            g = grp.cols
            if grp.kind == "nodes":
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
                continue
            if grp.kind == "ways":
                letter, offs = "W", g["ref_offsets"].tolist()
                items = [str(r) for r in g["refs"].tolist()]
            elif grp.kind == "relations":
                letter, offs = "R", g["member_offsets"].tolist()
                items = [f"{t}:{ref}:{role}" for t, ref, role in zip(
                    g["member_types"].tolist(), g["member_refs"].tolist(),
                    g["member_roles"].tolist())]
            else:
                continue
            for i, eid in enumerate(g["id"].tolist()):
                lines.append(f"{letter} {eid} {','.join(items[offs[i]:offs[i + 1]])}")
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
    return _pruned(pages).mapInArrow(
        partial(_entities_fn, kind="ways", on_error=on_error), model.WAY_SCHEMA)


def relations_from_pages(pages: DataFrame, on_error: str = "raise") -> DataFrame:
    return _pruned(pages).mapInArrow(
        partial(_entities_fn, kind="relations", on_error=on_error), model.RELATION_SCHEMA)


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

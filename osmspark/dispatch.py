"""Public API surface mirroring the reference (SURVEY.md §2.6).

The reference exports ``getFileType``, ``parse`` (auto-dispatch),
``parseXml``, ``parsePbf``, ``createPbfParser`` (``lib/main.js:27-45``).
Spark-first equivalents:

* ``get_file_type(path)``        — extension dispatch (``main.js:5-8``)
* ``parse(data_or_path, ...)``   — local one-shot decode → entity dicts
* ``create_pbf_parser(data)``    — random-access handle: block manifest +
  selective decode (``createFileParser``, ``pbfParser.js:570-626``). The
  Spark analogue of "plan once, execute selectively" is a manifest
  DataFrame + filtered decode, see ``pbf.source``; this local handle exists
  for API parity and driver-side use.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .pbf.decode import (
    INFO_COLUMNS,
    FileBlock,
    decode_header_block,
    decode_primitive_block,
    inflate_blob,
    split_file_blocks,
)
from .xml.decode import parse_osm_xml

_EXT_RE = re.compile(r"[.](xml|pbf)$", re.IGNORECASE)

__all__ = ["get_file_type", "parse", "parse_pbf", "parse_xml",
           "create_pbf_parser", "PbfRandomAccessParser"]


def get_file_type(path: str) -> str:
    """Format from extension; unknown → error (fileTypeTest.js:13-17)."""
    m = _EXT_RE.search(path)
    if not m:
        raise ValueError(f"unknown file extension for {path!r} (want .xml or .pbf)")
    return m.group(1).lower()


@dataclass
class PbfRandomAccessParser:
    """Random-access handle: manifest + on-demand block decode (op C3)."""

    file_blocks: list[FileBlock]
    _blobs: list[bytes]

    def find_file_blocks_by_blob_type(self, blob_type: str) -> list[FileBlock]:
        return [fb for fb in self.file_blocks if fb.type == blob_type]

    def read_block(self, file_block: FileBlock):
        blob = self._blobs[file_block.blob_idx]
        payload = inflate_blob(blob)
        if file_block.type == "OSMHeader":
            return decode_header_block(payload)
        if file_block.type == "OSMData":
            return decode_primitive_block(payload)
        raise ValueError(f"unsupported block type {file_block.type!r}")

    def close(self) -> None:  # managed memory; parity no-op
        pass


def create_pbf_parser(data: bytes) -> PbfRandomAccessParser:
    pairs = split_file_blocks(data)
    return PbfRandomAccessParser([fb for fb, _ in pairs], [b for _, b in pairs])


def _rows(kind: str, g: dict):
    """Row dicts of one decoded group, shaped like ``parse_osm_xml``'s."""
    offs, keys, vals = g["tag_offsets"], g["tag_keys"], g["tag_vals"]
    info = {k: [None] * g["n"] if g[k] is None else g[k].tolist() for k in INFO_COLUMNS}
    for i, eid in enumerate(g["id"].tolist()):
        row = {"id": eid, "id_str": str(eid),
               "tags": dict(zip(keys[offs[i]:offs[i + 1]], vals[offs[i]:offs[i + 1]]))}
        if kind == "nodes":
            row["lat"] = float(g["lat"][i])
            row["lon"] = float(g["lon"][i])
        elif kind == "ways":
            row["refs"] = g["refs"][g["ref_offsets"][i]:g["ref_offsets"][i + 1]].tolist()
        else:
            a, b = g["member_offsets"][i], g["member_offsets"][i + 1]
            row["members"] = [
                {"ref": str(ref), "role": role, "type": t}
                for ref, role, t in zip(g["member_refs"][a:b].tolist(),
                                        g["member_roles"][a:b], g["member_types"][a:b])]
        yield row | {k: info[k][i] for k in INFO_COLUMNS}


def parse_pbf(data: bytes) -> dict:
    """One-shot decode → {'nodes': [...], 'ways': [...], 'relations': [...]}
    row dicts in emission order (blocks → groups → nodes→ways→relations)."""
    parser = create_pbf_parser(data)
    out: dict[str, list] = {"nodes": [], "ways": [], "relations": []}
    for fb in parser.find_file_blocks_by_blob_type("OSMData"):
        for grp in parser.read_block(fb).groups:
            if grp.kind in out:
                out[grp.kind].extend(_rows(grp.kind, grp.cols))
    return out


def parse(data: bytes | str, *, path: str | None = None, format: str | None = None):
    """Auto-dispatch like the reference's ``parse`` (main.js:14-25)."""
    fmt = format or (get_file_type(path) if path else None)
    if fmt is None:
        raise ValueError("need format= or path= to dispatch")
    if fmt == "pbf":
        return parse_pbf(data if isinstance(data, bytes) else data.encode())
    if fmt == "xml":
        return parse_osm_xml(data)
    raise ValueError(f"unsupported format {fmt!r}")


parse_xml = parse_osm_xml

"""Per-row bad-record quarantine (SURVEY §2.4's mapping of the
reference's error callback, lib/pbfParser.js:41-47): a corrupt blob
mid-table yields a quarantine row and the job succeeds — the other
pages decode fully."""

from __future__ import annotations

import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hs

from osmspark import model
from osmspark.pages import golden_pbf_bytes, many_nodes_pbf_bytes, pages_pandas
from osmspark.pbf.decode import (
    MAX_ELEMENT_SIZE, PbfError, inflate_blob, split_file_blocks)
from osmspark.pbf.encode import (
    _file_block, _len_field, _packed_signed_field, _packed_unsigned_field, _varint,
    _varint_field, build_file, recode_file_raw)
from osmspark.pbf.source import (
    decode_page,
    decode_page_quarantine,
    nodes_from_pages,
    quarantine_from_pages,
)
from osmspark.pbf.wire import read_field, read_varint


def _corrupted_pages_pdf(n_pages: int = 6, nodes_per_page: int = 50):
    """Pages table with page 3's zlib payload zeroed (inflate error)
    and page 4 truncated mid-blob (framing error)."""
    pdf = pages_pandas(n_pages, nodes_per_page=nodes_per_page)
    bad = bytearray(pdf.loc[3, "html"])
    bad[-25:-15] = b"\x00" * 10
    pdf.loc[3, "html"] = bytes(bad)
    pdf.loc[4, "html"] = bytes(pdf.loc[4, "html"])[:-10]
    return pdf


def test_decode_page_quarantine_local():
    pdf = _corrupted_pages_pdf()
    blocks, errors = decode_page_quarantine(pdf.loc[3, "html"])
    # header still decodes; the data blob is the quarantined one
    assert [b[1] for b in blocks] == ["OSMHeader"]
    assert len(errors) == 1
    idx, kind, msg = errors[0]
    assert (idx, kind) == (1, "inflate")
    blocks, errors = decode_page_quarantine(pdf.loc[4, "html"])
    assert [b[1] for b in blocks] == ["OSMHeader"]
    assert errors == [(1, "framing", "truncated Blob payload")]
    # clean page: no errors, identical blocks to decode_page
    blocks, errors = decode_page_quarantine(pdf.loc[2, "html"])
    assert errors == [] and len(blocks) == 2


def _block(*group_msgs: bytes) -> bytes:
    """PrimitiveBlock: a 2-entry string table, then one group per message."""
    return (_len_field(1, _len_field(1, b"") + _len_field(1, b"k"))
            + b"".join(_len_field(2, m) for m in group_msgs))


_WAY = _len_field(3, _varint_field(1, 7) + _packed_signed_field(8, np.array([1, 1])))


@pytest.mark.parametrize("block", [
    pytest.param(_block(_WAY) + b"\x88", id="truncated-varint"),
    pytest.param(_block(_WAY) + b"\x12\x64ab", id="field-past-buffer"),
    pytest.param(_block(_WAY) + b"\x13", id="wire-type-3"),
    pytest.param(_block(_len_field(3, _varint_field(1, 7)
                                   + _packed_unsigned_field(2, np.array([5]))
                                   + _packed_unsigned_field(3, np.array([1])))),
                 id="string-index"),
    pytest.param(_block(_len_field(4, _varint_field(1, 9)
                                   + _packed_unsigned_field(8, np.array([1]))
                                   + _packed_signed_field(9, np.array([3]))
                                   + _packed_unsigned_field(10, np.array([3])))),
                 id="member-type"),
])
def test_malformed_block_is_one_decode_record(block):
    """Adversarial bytes inside a data blob become one typed
    (block_idx, "decode", message) record, not an escaping exception."""
    blocks, errors = decode_page_quarantine(build_file([block]))
    assert [b[1] for b in blocks] == ["OSMHeader"]
    assert len(errors) == 1 and errors[0][:2] == (1, "decode")


def _with_data_blob(blob: bytes) -> bytes:
    """A header-only file followed by one OSMData frame around ``blob``."""
    header = _len_field(1, b"OSMData") + _varint_field(3, len(blob))
    return build_file([]) + len(header).to_bytes(4, "big") + header + blob


@pytest.mark.parametrize("make_page", [
    # 32 KiB of zlib that inflates past the 32 MiB blob cap
    pytest.param(lambda: build_file([_len_field(1, _len_field(1, b""))
                                     + _len_field(15, b"\0" * (MAX_ELEMENT_SIZE + 1024))]),
                 id="inflates-past-cap"),
    pytest.param(lambda: _with_data_blob(_varint_field(2, MAX_ELEMENT_SIZE + 1)
                                         + _len_field(3, zlib.compress(b""))),
                 id="raw-size-past-cap"),
    pytest.param(lambda: _with_data_blob(_len_field(3, zlib.compress(b"\0" * 64)[:-4])),
                 id="truncated-zlib"),
])
def test_bad_inflate_is_one_inflate_record(make_page):
    page = make_page()
    with pytest.raises(PbfError) as e:
        decode_page(page)
    assert e.value.kind == "inflate"
    blocks, errors = decode_page_quarantine(page)
    assert [b[1] for b in blocks] == ["OSMHeader"]
    assert len(errors) == 1 and errors[0][:2] == (1, "inflate")


# the raw copies put the mutated bytes straight in front of the protobuf
# decoder instead of behind a zlib checksum
_FUZZ_SEEDS = [golden_pbf_bytes(), many_nodes_pbf_bytes()]
_FUZZ_SEEDS += [recode_file_raw(b) for b in _FUZZ_SEEDS]


def _blob_header(blob_type: str, datasize: int) -> bytes:
    return _len_field(1, blob_type.encode()) + _varint_field(3, datasize)


def _frame(header: bytes, blob: bytes) -> bytes:
    """One file block: 4-byte header length, BlobHeader, Blob."""
    return len(header).to_bytes(4, "big") + header + blob


def _varint_sites(buf: bytes):
    """(varints, payloads) of ``buf`` read as a message — every key,
    varint value and length prefix as (start, end), every non-empty
    length-delimited payload as (prefix_start, start, end) — or, if it is
    not a message, its varints read as a packed array (no payloads)."""
    mv = memoryview(buf)
    try:
        varints, payloads, pos = [], [], 0
        while pos < len(buf):
            _, key_end = read_varint(mv, pos)
            _, wire, _, start, end = read_field(mv, pos)
            varints.append((pos, key_end))
            if wire == 0:
                varints.append((start, end))
            elif wire == 2:
                varints.append((key_end, start))
                if end > start:
                    payloads.append((key_end, start, end))
            pos = end
        return varints, payloads
    except PbfError:
        pass
    try:
        varints, pos = [], 0
        while pos < len(buf):
            _, end = read_varint(mv, pos)
            varints.append((pos, end))
            pos = end
        return varints, []
    except PbfError:
        return [], []


def _overlong(draw, buf: bytes) -> bytes:
    """``buf`` with one varint re-encoded with redundant 0x80 continuation
    bytes — 10 bytes at most (still valid) or an 11th byte (invalid) —
    possibly inside a nested payload, whose length prefixes are then
    re-encoded to fit."""
    varints, payloads = _varint_sites(buf)
    if payloads and (not varints or draw(hs.booleans())):
        pre, start, end = draw(hs.sampled_from(payloads))
        inner = _overlong(draw, buf[start:end])
        return buf[:pre] + _varint(len(inner)) + inner + buf[end:]
    if not varints:
        return buf
    start, end = draw(hs.sampled_from(varints))
    n = draw(hs.integers(end - start + 1, 11))
    v = bytearray(buf[start:end])
    v[-1] |= 0x80
    v += b"\x80" * (n - len(v) - 1) + b"\x00"
    return buf[:start] + bytes(v) + buf[end:]


@hs.composite
def _mutated_page(draw) -> bytes:
    page = bytearray(draw(hs.sampled_from(_FUZZ_SEEDS)))
    how = draw(hs.sampled_from(["flip", "truncate", "set", "datasize", "overlong"]))
    if how in ("datasize", "overlong"):
        blocks = split_file_blocks(bytes(page))
        i = draw(hs.integers(0, len(blocks) - 1))
        frames = [_frame(_blob_header(fb.type, len(blob)), blob)
                  for fb, blob in blocks]
        fb, blob = blocks[i]
        if how == "datasize":
            # a BlobHeader that lies about its Blob's size
            lie = draw(hs.sampled_from([0, len(blob) - 1, len(blob) + 1,
                                        len(page), 2**32 - 1]))
            frames[i] = _frame(_blob_header(fb.type, lie), blob)
        else:
            layer = draw(hs.sampled_from(["header", "blob", "block"]))
            if layer == "header":
                header = _overlong(draw, _blob_header(fb.type, len(blob)))
                frames[i] = _frame(header, blob)
            elif layer == "blob":
                blob = _overlong(draw, blob)
                frames[i] = _frame(_blob_header(fb.type, len(blob)), blob)
            else:
                frames[i] = _file_block(fb.type, _overlong(draw, inflate_blob(blob)),
                                        compress=draw(hs.booleans()))
        return b"".join(frames)
    if how == "flip":
        bits = hs.lists(hs.integers(0, 8 * len(page) - 1), min_size=1, max_size=4, unique=True)
        for bit in draw(bits):
            page[bit // 8] ^= 1 << (bit % 8)
    elif how == "truncate":
        del page[draw(hs.integers(0, len(page) - 1)):]
    else:
        page[draw(hs.integers(0, len(page) - 1))] = draw(hs.sampled_from([0x00, 0x7F, 0x80, 0xFF]))
    return bytes(page)


@settings(max_examples=300, deadline=None)
@given(_mutated_page())
def test_mutated_page_fails_only_with_pbf_error(page):
    """Bit flips, truncation, boundary bytes, a lying BlobHeader datasize
    and overlong varints anywhere in a real page: raise mode fails with
    PbfError or not at all, and quarantine mode never raises."""
    try:
        decode_page(page)
    except PbfError:
        pass
    decode_page_quarantine(page)


def test_quarantine_job_succeeds_others_decode(spark):
    pdf = _corrupted_pages_pdf()
    pages = spark.createDataFrame(pdf, schema=model.PAGES_SCHEMA)
    clean = spark.createDataFrame(pages_pandas(6, nodes_per_page=50),
                                  schema=model.PAGES_SCHEMA)

    q = sorted((r["url"], r["block_idx"], r["kind"])
               for r in quarantine_from_pages(pages).collect())
    assert q == [("https://fixture.test/doc/3", 1, "inflate"),
                 ("https://fixture.test/doc/4", 1, "framing")]

    got = nodes_from_pages(pages, on_error="quarantine") \
        .groupBy("url").count().collect()
    want = {r["url"]: r["count"]
            for r in clean.select("url").join(
                nodes_from_pages(clean).groupBy("url").count(), "url")
            .collect()}
    got_map = {r["url"]: r["count"] for r in got}
    # N-2 pages decode exactly their clean counts; the two bad pages
    # contribute zero node rows (their data blob is quarantined)
    for url, cnt in want.items():
        doc = int(url.rsplit("/", 1)[1])
        if doc in (3, 4):
            assert url not in got_map
        else:
            assert got_map[url] == cnt


def test_raise_mode_still_fails(spark):
    pdf = _corrupted_pages_pdf()
    pages = spark.createDataFrame(pdf, schema=model.PAGES_SCHEMA)
    with pytest.raises(Exception, match="PbfError|inflate|zlib"):
        nodes_from_pages(pages).count()


def test_clean_table_quarantine_is_empty(spark):
    pages = spark.createDataFrame(pages_pandas(4, nodes_per_page=30),
                                  schema=model.PAGES_SCHEMA)
    assert quarantine_from_pages(pages).count() == 0

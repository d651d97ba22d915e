"""Per-row bad-record quarantine (SURVEY §2.4's mapping of the
reference's error callback, lib/pbfParser.js:41-47): a corrupt blob
mid-table yields a quarantine row and the job succeeds — the other
pages decode fully."""

from __future__ import annotations

import numpy as np
import pytest

from osmspark import model
from osmspark.pages import pages_pandas
from osmspark.pbf.encode import (
    _len_field, _packed_signed_field, _packed_unsigned_field, _varint_field, build_file)
from osmspark.pbf.source import (
    decode_page_quarantine,
    nodes_from_pages,
    quarantine_from_pages,
)


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

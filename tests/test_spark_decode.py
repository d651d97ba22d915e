"""Spark-layer decode tests: pages table → entity DataFrames, text parity,
and cross-format parity through Spark itself."""

import pyspark.sql.functions as F
import pytest

from osmspark import model
from osmspark.pbf.source import (
    extracted_text_from_pages,
    headers_from_pages,
    nodes_from_pages,
    relations_from_pages,
    ways_from_pages,
)
from osmspark.xml.source import (
    bounds_from_xml_pages,
    nodes_from_xml_pages,
    relations_from_xml_pages,
    ways_from_xml_pages,
)

GOLDEN_URL = "https://fixture.test/doc/0"


@pytest.fixture(scope="module")
def nodes(pages_df):
    return nodes_from_pages(pages_df).cache()


def test_node_schema(nodes):
    assert nodes.schema == model.NODE_SCHEMA


def test_golden_node_values(nodes):
    rows = (nodes.filter(F.col("url") == GOLDEN_URL)
            .orderBy("block_idx", "group_idx", "row_idx").collect())
    assert len(rows) == 6
    r0 = rows[0]
    assert (r0.id, r0.id_str) == (319408586, "319408586")
    assert (r0.lat, r0.lon) == (51.5074089, -0.1080108)
    assert r0.timestamp_ms == 1229476722000
    assert (r0.version, r0.changeset, r0.uid, r0.user) == (1, 440330, "6871", "smsm1")
    assert rows[2].tags == {"name": "Jam's Sandwich Bar", "amenity": "cafe"}
    assert rows[5].tags == {}  # empty map, not null


def test_golden_way(pages_df):
    w = ways_from_pages(pages_df).filter(F.col("url") == GOLDEN_URL).collect()[0]
    assert w.id == 27776903 and w.id_str == "27776903"
    assert w.node_refs == [304994979, 319408587, 319408586, 304994980, 304994981]
    assert w.node_refs_str[0] == "304994979"
    assert w.tags["name"] == "üßé€"
    assert (w.version, w.timestamp_ms, w.changeset, w.user, w.uid) == (
        3, 1243777155000, 1368552, "Matt", "70")


def test_golden_relation(pages_df):
    r = relations_from_pages(pages_df).filter(F.col("url") == GOLDEN_URL).collect()[0]
    assert r.id == 56688
    assert [(m.type, m.ref, m.role) for m in r.members] == [
        ("node", "319408586", ""), ("way", "27776903", "")]
    assert r.tags == {"network": "VVW", "ref": "123", "route": "bus", "type": "route"}


def test_golden_header(pages_df):
    h = headers_from_pages(pages_df).filter(F.col("url") == GOLDEN_URL).collect()[0]
    assert h.writingprogram == "0.40.1"
    assert "DenseNodes" in h.required_features


def test_many_nodes_count(nodes):
    assert nodes.filter(F.col("url") == "https://fixture.test/doc/1").count() == 3000


def test_text_byte_identical_all_pages(pages_df):
    """BASELINE.json invariant: byte-identical extracted text per url."""
    mismatches = (
        extracted_text_from_pages(pages_df)
        .join(pages_df.select("url", "text"), "url")
        .filter(F.col("extracted_text") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_xml_pbf_parity_via_spark(spark, golden_xml, pages_df):
    """Same assertion suite against both formats, through Spark DataFrames
    (reference xmlPbfTest.js describeTest pattern)."""
    import datetime as dt

    xml_pages = spark.createDataFrame(
        [("xml://golden", dt.datetime(2025, 1, 1), bytearray(golden_xml), "", "en")],
        schema=model.PAGES_SCHEMA,
    )
    xml_nodes = nodes_from_xml_pages(xml_pages).orderBy("row_idx")
    common = ["id", "id_str", "lat", "lon", "tags", "version",
              "timestamp_ms", "changeset", "uid", "user"]
    xn = [tuple(r[c] for c in common) for r in xml_nodes.select(common).collect()]
    pbf_nodes = (nodes_from_pages(pages_df)
                 .filter(F.col("url") == GOLDEN_URL).orderBy("row_idx"))
    pn = [tuple(r[c] for c in common) for r in pbf_nodes.select(common).collect()]
    assert xn == pn

    info = ["id", "id_str", "tags", "version", "timestamp_ms", "changeset",
            "uid", "user"]
    for xml_fn, pbf_fn, cols in (
            (ways_from_xml_pages, ways_from_pages,
             info + ["node_refs", "node_refs_str"]),
            (relations_from_xml_pages, relations_from_pages,
             info + ["members"])):
        xe = [tuple(r) for r in
              xml_fn(xml_pages).orderBy("row_idx").select(cols).collect()]
        pe = [tuple(r) for r in
              pbf_fn(pages_df).filter(F.col("url") == GOLDEN_URL)
              .orderBy("row_idx").select(cols).collect()]
        assert xe == pe and len(xe) == 1, xml_fn.__name__

    b = bounds_from_xml_pages(xml_pages).collect()[0]
    assert abs(b.minlat - 51.5073601795557) < 1e-12


def test_column_pruning_reaches_scan(spark, tmp_path, pages_df):
    """The pages scan for nodes must read only url+html (ReadSchema)."""
    path = str(tmp_path / "pages_parquet")
    pages_df.write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    plan = nodes_from_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan.split("ReadSchema")[1][:200]
    assert "html" in plan


def test_pbf_header_bbox_as_degrees_bounds(spark, pages_df):
    """HeaderBBox surfaces as a degrees bounds row matching the XML
    bounds shape (reference: nanodegree sint64 HeaderBlock.bbox vs XML
    <bounds> degrees). The golden test.pbf carries no bbox (pinned:
    bboxless headers yield no bounds row), so a synthesized header
    exercises the round trip through our own encoder."""
    from osmspark.pbf.encode import _file_block, build_header_block
    from osmspark.pbf.source import bounds_from_pages

    # golden fixture: header present, bbox absent → zero bounds rows
    assert bounds_from_pages(pages_df).count() == 0

    hdr = build_header_block(
        "t", bbox_deg=(-0.1083348, -0.1075014, 51.5075933, 51.5074089))
    pages = spark.createDataFrame(
        [("u://bbox", _file_block("OSMHeader", hdr))],
        "url string, html binary")
    b = bounds_from_pages(pages).collect()[0]
    assert abs(b.minlat - 51.5074089) < 1e-9
    assert abs(b.minlon - (-0.1083348)) < 1e-9
    assert abs(b.maxlat - 51.5075933) < 1e-9
    assert abs(b.maxlon - (-0.1075014)) < 1e-9

"""XML golden assertions + cross-format parity (reference xmlPbfTest.js
runs the same suite against both formats — SURVEY.md §5.1). No Spark."""

import pytest

from osmspark.pbf import decode_primitive_block, inflate_blob, split_file_blocks
from osmspark.xml import XmlParseError, parse_osm_xml


@pytest.fixture(scope="module")
def xml_doc(golden_xml):
    return parse_osm_xml(golden_xml)


@pytest.fixture(scope="module")
def pbf_doc(golden_pbf):
    blocks = split_file_blocks(golden_pbf)
    blk = decode_primitive_block(inflate_blob(blocks[1][1]))
    g = blk.groups[0].cols
    o = g["tag_offsets"]
    nodes = [
        {
            "id": int(g["id"][i]),
            "lat": float(g["lat"][i]),
            "lon": float(g["lon"][i]),
            "tags": dict(zip(g["tag_keys"][o[i]:o[i + 1]],
                             g["tag_vals"][o[i]:o[i + 1]])),
            "version": int(g["version"][i]),
            "timestamp_ms": int(g["timestamp_ms"][i]),
            "changeset": int(g["changeset"][i]),
            "uid": g["uid"][i],
            "user": g["user"][i],
        }
        for i in range(g["n"])
    ]
    # the way and relation groups hold one entity each: their flat
    # columns are that entity's lists, scalar columns hold one value
    lists = ("tag_keys", "tag_vals", "refs", "member_refs", "member_roles",
             "member_types")
    w, r = ({k: v if k in lists else v[0] for k, v in grp.cols.items()
             if k != "n" and v is not None}
            for grp in blk.groups[1:3])
    return {"nodes": nodes, "way": w, "relation": r}


def test_counts(xml_doc):
    assert len(xml_doc["nodes"]) == 6
    assert len(xml_doc["ways"]) == 1
    assert len(xml_doc["relations"]) == 1


def test_xml_bounds(xml_doc):
    b = xml_doc["bounds"][0]
    assert abs(b["minlat"] - 51.5073601795557) < 1e-12
    assert abs(b["minlon"] - (-0.108157396316528)) < 1e-12
    assert abs(b["maxlat"] - 51.5076406454029) < 1e-12
    assert abs(b["maxlon"] - (-0.107599496841431)) < 1e-12


def test_xml_visible_true(xml_doc):
    assert all(n["visible"] is True for n in xml_doc["nodes"])


def test_xml_way_center(xml_doc):
    w = xml_doc["ways"][0]
    assert w["center_lat"] == 68.9280397
    assert w["center_lon"] == 33.1139458


def test_node_parity(xml_doc, pbf_doc):
    """Every common node field identical across formats (xmlPbfTest.js)."""
    for xn, pn in zip(xml_doc["nodes"], pbf_doc["nodes"]):
        assert xn["id"] == pn["id"]
        # XML parseFloat and PBF dequantization agree exactly on the
        # golden fixture values (both are shortest-repr doubles)
        assert xn["lat"] == pn["lat"]
        assert xn["lon"] == pn["lon"]
        assert xn["tags"] == pn["tags"]
        assert xn["version"] == pn["version"]
        assert xn["timestamp_ms"] == pn["timestamp_ms"]
        assert xn["changeset"] == pn["changeset"]
        assert xn["uid"] == pn["uid"]
        assert xn["user"] == pn["user"]


def test_way_parity(xml_doc, pbf_doc):
    xw = xml_doc["ways"][0]
    pw = pbf_doc["way"]
    assert xw["id"] == pw["id"]
    assert xw["refs"] == list(pw["refs"])
    assert xw["tags"] == dict(zip(pw["tag_keys"], pw["tag_vals"]))
    assert xw["version"] == pw["version"]
    assert xw["timestamp_ms"] == pw["timestamp_ms"]
    assert xw["changeset"] == pw["changeset"]
    assert xw["uid"] == pw["uid"]
    assert xw["user"] == pw["user"]


def test_relation_parity(xml_doc, pbf_doc):
    xr = xml_doc["relations"][0]
    pr = pbf_doc["relation"]
    assert xr["id"] == pr["id"]
    assert xr["tags"] == dict(zip(pr["tag_keys"], pr["tag_vals"]))
    xmem = [(m["type"], int(m["ref"]), m["role"]) for m in xr["members"]]
    pmem = list(zip(pr["member_types"],
                    (int(x) for x in pr["member_refs"]),
                    pr["member_roles"]))
    assert xmem == pmem  # ordered members


def test_invalid_xml_raises():
    with pytest.raises(XmlParseError):
        parse_osm_xml(b"<osm:osm\n  <bounds")


def test_unknown_format_detection():
    """Format dispatch by extension (main.js:5-25, fileTypeTest.js)."""
    from osmspark.dispatch import get_file_type

    assert get_file_type("a/b/map.pbf") == "pbf"
    assert get_file_type("map.osm.xml") == "xml"
    with pytest.raises(ValueError):
        get_file_type("map.csv")


def test_parse_dispatches_by_path_or_format(golden_pbf, golden_xml):
    """parse() picks the decoder from the path extension, and an
    explicit format= wins over the path (main.js:14-25)."""
    from osmspark.dispatch import parse, parse_pbf

    pbf = parse(golden_pbf, path="data/map.pbf")
    assert pbf == parse_pbf(golden_pbf)
    assert [len(pbf[k]) for k in ("nodes", "ways", "relations")] == [6, 1, 1]
    xml = parse_osm_xml(golden_xml)
    assert parse(golden_xml, path="data/map.osm.xml") == xml
    assert [len(xml[k]) for k in ("nodes", "ways", "relations")] == [6, 1, 1]
    assert parse(golden_xml, path="map.pbf", format="xml") == xml


@pytest.mark.parametrize("kwargs, match", [
    ({}, "format= or path="),
    ({"format": "csv"}, "unsupported format 'csv'"),
], ids=["neither", "unknown-format"])
def test_parse_rejects(golden_xml, kwargs, match):
    from osmspark.dispatch import parse

    with pytest.raises(ValueError, match=match):
        parse(golden_xml, **kwargs)


@pytest.fixture(scope="module")
def http_server():
    """Local http server over the fixtures dir — mirrors the reference's
    own http test (test/xmlHttpTest.js:10-60 serves test.xml locally)."""
    import http.server
    import pathlib
    import threading

    fixtures = str(pathlib.Path(__file__).parent / "fixtures")

    class H(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=fixtures, **kw)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_xml_http_source_parity(spark, http_server, golden_xml):
    """S9: fetch over HTTP decodes identically to the file-backed path."""
    from osmspark.xml.http import xml_pages_from_http
    from osmspark.xml.source import nodes_from_xml_pages

    pages = xml_pages_from_http(spark, [f"{http_server}/osm_golden.xml"])
    got = {(r.id, r.lat, r.lon) for r in nodes_from_xml_pages(pages).collect()}
    want = {(e["id"], e["lat"], e["lon"])
            for e in parse_osm_xml(golden_xml)["nodes"]}
    assert got == want and len(got) == 6


def test_xml_http_non_200_raises(http_server):
    from osmspark.xml.http import XmlHttpError, fetch_xml

    with pytest.raises(XmlHttpError, match="404"):
        fetch_xml(f"{http_server}/does_not_exist.xml")


def test_xml_http_distributed_fetch(spark, http_server):
    """Executor-side fetch: good URLs decode, bad URLs carry errors."""
    import pandas as pd

    from osmspark.xml.http import xml_pages_from_http_distributed
    from osmspark.xml.source import nodes_from_xml_pages

    urls = spark.createDataFrame(pd.DataFrame({
        "url": [f"{http_server}/osm_golden.xml",
                f"{http_server}/missing.xml"]}))
    fetched = xml_pages_from_http_distributed(urls).cache()
    ok = fetched.filter("error IS NULL")
    bad = fetched.filter("error IS NOT NULL").collect()
    assert nodes_from_xml_pages(ok.select("url", "html")).count() == 6
    assert len(bad) == 1 and "404" in bad[0].error
    fetched.unpersist()

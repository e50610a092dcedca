"""XML ingestion parity tests — replays the reference's OsmJoinTest
fixtures (OsmJoinTest.java:16-22 verbatim nodes) plus the parse-semantics
gotchas (P3 unescape asymmetry, quarantine routing, member order)."""

from __future__ import annotations

import gzip

import pytest

from osm2geojson_spark.sources.osm_xml import parse_osm_blobs, read_osm_xml

# verbatim sample nodes from OsmJoinTest.java:16-22 (coords preserved)
SAMPLE_XML = """<?xml version='1.0' encoding='UTF-8'?>
<osm version="0.6" generator="test">
  <node id="25737250" version="12" timestamp="2011-04-30T22:terminator" lat="51.5121071" lon="-0.1130375">
    <tag k="name" v="Caf&amp;eacute; &amp; Bar &quot;X&quot;"/>
    <tag k="amenity" v="cafe"/>
  </node>
  <node id="25737251" lat="-51.5121071" lon="-0.1130375"/>
  <node id="25737252" lat="-51.5121071" lon="0.1130375"/>
  <node id="99" lon="5.5">
    <tag k="name" v="broken"/>
  </node>
  <way id="4817787" version="9">
    <nd ref="25737250"/>
    <nd ref="25737252"/>
    <nd ref="25737251"/>
    <tag k="name" v="A &amp; B"/>
    <tag k="highway" v="residential"/>
  </way>
  <relation id="62761" version="40">
    <member type="way" ref="4817787" role="outer"/>
    <member type="node" ref="25737250" role=""/>
    <member type="relation" ref="12345" role="subarea"/>
    <tag k="type" v="multipolygon"/>
  </relation>
  <junk>not an entity</junk>
</osm>
"""


@pytest.fixture(scope="module")
def parsed(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("xml") / "sample.osm.gz"
    with gzip.open(p, "wt") as f:  # S1: compressed-stream scan
        f.write(SAMPLE_XML)
    tabs = read_osm_xml(spark, str(p))
    return {k: v.collect() for k, v in tabs.items()}


def test_node_parse_verbatim_coords(parsed):
    nodes = {r["id"]: r for r in parsed["nodes"]}
    assert set(nodes) == {25737250, 25737251, 25737252}
    assert (nodes[25737250]["lon"], nodes[25737250]["lat"]) == (-0.1130375, 51.5121071)
    assert (nodes[25737251]["lon"], nodes[25737251]["lat"]) == (-0.1130375, -51.5121071)
    assert (nodes[25737252]["lon"], nodes[25737252]["lat"]) == (0.1130375, -51.5121071)


def test_node_tags_unescaped(parsed):
    """P3: node tag values ARE XML-unescaped (OsmJoin.java:170)."""
    n = {r["id"]: r for r in parsed["nodes"]}[25737250]
    assert n["tags"]["name"] == 'Caf&eacute; & Bar "X"'
    assert n["tags"]["amenity"] == "cafe"


def test_way_tags_not_unescaped(parsed):
    """P3 asymmetry: way tags are NOT unescaped (OsmJoin.java:198)."""
    w = {r["id"]: r for r in parsed["ways"]}[4817787]
    assert w["tags"]["name"] == "A &amp; B"


def test_relation_tags_not_unescaped(spark):
    """P3 asymmetry (ADVICE r1): relation tags are NOT unescaped by
    default (parseRelation never calls unescapeXml), flippable via
    unescape_relations."""
    blob = ('<relation id="1"><member type="way" ref="2" role="outer"/>'
            '<tag k="name" v="A &amp; B"/></relation>')
    blobs = spark.createDataFrame([(blob,)], ["blob"])
    rel = parse_osm_blobs(blobs)["relations"].collect()[0]
    assert rel["tags"]["name"] == "A &amp; B"
    rel2 = parse_osm_blobs(blobs, unescape_relations=True)["relations"].collect()[0]
    assert rel2["tags"]["name"] == "A & B"


def test_way_nd_order(parsed):
    w = {r["id"]: r for r in parsed["ways"]}[4817787]
    assert w["ns"] == [25737250, 25737252, 25737251]  # document order


def test_relation_members_order_and_types(parsed):
    r = {x["id"]: x for x in parsed["relations"]}[62761]
    ms = [(m["type"], m["id"], m["role"]) for m in r["members"]]
    assert ms == [("way", 4817787, "outer"), ("node", 25737250, ""),
                  ("relation", 12345, "subarea")]
    assert r["tags"]["type"] == "multipolygon"


def test_quarantine_node_without_latlon(parsed):
    reasons = [r["reason"] for r in parsed["quarantine"]]
    assert reasons == ["node without lat/lon"]
    assert 99 not in {r["id"] for r in parsed["nodes"]}


def test_pipeline_from_xml_to_geojson(spark, parsed):
    """XML → assemble → features: full-parity path on real blob input."""
    import json

    from osm2geojson_spark.operators.osm_join import assemble_ways
    from osm2geojson_spark.operators.postprocess import way_features
    from osm2geojson_spark.synth.osm import NODE_SCHEMA, WAY_SCHEMA

    nodes = spark.createDataFrame(
        [(r["id"], r["lon"], r["lat"], dict(r["tags"])) for r in parsed["nodes"]],
        NODE_SCHEMA)
    ways = spark.createDataFrame(
        [(r["id"], dict(r["tags"]), list(r["ns"])) for r in parsed["ways"]],
        WAY_SCHEMA)
    feats = way_features(assemble_ways(nodes, ways)).collect()
    doc = json.loads(feats[0]["geojson"])
    assert doc["id"] == "osmway/4817787"
    assert doc["geometry"]["type"] == "LineString"
    assert doc["geometry"]["coordinates"][0] == [-0.1130375, 51.5121071]
    assert doc["categories"]["osm"] == ["street", "highway:residential"]


def test_node_tags_numeric_refs_unescaped(spark):
    """P3 full parity with StringEscapeUtils.unescapeXml: decimal and
    hex numeric character references in node tags decode like the
    predefined entities; way tags stay literal."""
    node = ('<node id="7" lat="1.0" lon="2.0">'
            '<tag k="name" v="Caf&#233;&#10;"/>'
            '<tag k="note" v="&#x42;ar &amp; &lt;3 &amp;#233;"/></node>')
    way = '<way id="8"><nd ref="7"/><tag k="name" v="Caf&#233;"/></way>'
    blobs = spark.createDataFrame([(node,), (way,)], ["blob"])
    tabs = parse_osm_blobs(blobs)
    tags = tabs["nodes"].collect()[0]["tags"]
    assert tags == {"name": "Caf\u00e9\n", "note": "Bar & <3 &#233;"}
    assert tabs["ways"].collect()[0]["tags"] == {"name": "Caf&#233;"}


def test_bz2_stream_scan(spark, tmp_path):
    """S1 parity: the planet dump stays compressed (`README.md:37`
    'DONOT expand it') — Spark's codec reads .bz2 directly."""
    import bz2

    p = tmp_path / "mini.osm.bz2"
    p.write_bytes(bz2.compress(SAMPLE_XML.encode()))
    tabs = read_osm_xml(spark, str(p))
    assert {r["id"] for r in tabs["nodes"].collect()} == {25737250, 25737251, 25737252}

"""Byte-exact golden tests for the canonical GeoJSON serializer: pinned
key order (id, title, geometry, categories, address?, links? — the
reference's jsonj insertion order, OsmPostProcessor.java:128-131,332-343),
Java ``Double.toString`` number notation, canonical category order."""

from __future__ import annotations

from osm2geojson_spark.operators.osm_join import assemble_ways
from osm2geojson_spark.operators.postprocess import node_features, way_features


def _docs(df):
    return {r["feature_id"]: r["geojson"] for r in df.collect()}


def test_node_doc_bytes(fixtures):
    docs = _docs(node_features(fixtures["nodes"]))
    assert docs["osmnode/13"] == (
        '{"id":"osmnode/13","title":"Tram X",'
        '"geometry":{"type":"Point","coordinates":[5.008,52.008]},'
        '"categories":{"osm":["tram-stop"]}}'
    )
    # address + links present, in pinned position after categories
    assert docs["osmnode/10"] == (
        '{"id":"osmnode/10","title":"Cafe Centraal",'
        '"geometry":{"type":"Point","coordinates":[5.005,52.005]},'
        '"categories":{"osm":["amenity:cafe"]},'
        '"address":{"housenumber":"1","street":"Damrak"},'
        '"links":[{"href":"http://example.org"}]}'
    )


def test_way_doc_bytes_negative_coords(spark, fixtures):
    """Float formatting survives the reference's negative-coordinate
    regression values (-0.1130375 round-trips exactly)."""
    ways = spark.createDataFrame(
        [(900, {"name": "Reg", "highway": "x"}, [25737250, 25737251])],
        fixtures["ways"].schema)
    docs = _docs(way_features(assemble_ways(fixtures["nodes"], ways)))
    assert docs["osmway/900"] == (
        '{"id":"osmway/900","title":"Reg",'
        '"geometry":{"type":"LineString","coordinates":'
        '[[-0.1130375,51.5121071],[-0.1130375,-51.5121071]]},'
        '"categories":{"osm":["street","highway:x"]}}'
    )


def test_polygon_doc_bytes(fixtures):
    docs = _docs(way_features(assemble_ways(fixtures["nodes"], fixtures["ways"])))
    assert docs["osmway/101"] == (
        '{"id":"osmway/101","title":"Closed Block",'
        '"geometry":{"type":"Polygon","coordinates":'
        '[[[5.0,52.01],[5.01,52.01],[5.01,52.02],[5.0,52.02],[5.0,52.01]]]},'
        '"categories":{"osm":["building:yes","building"]}}'
    )


# ------------------------------------------------ notation and escapes
def test_notation_edge_and_escape_doc_bytes(spark):
    """Every number is printed by the JVM's Double.toString: plain
    decimal for 1e-3 ≤ |d| < 1e7, ``d.dddEn`` outside it, ``-0.0`` kept.
    Strings escape ``"`` and ``\\``, control characters as upper-case
    ``\\uXXXX``, and write non-ASCII as is."""
    nodes = spark.createDataFrame([
        (1, 0.001, 0.0005,
         {"name": 'Café "Q" \\ ü\x1f', "amenity": "cafe",
          "addr:street": "Däm"}),
        (2, 1.0e7, -0.0, None),
        (3, -0.1130375, 0.001, None),
    ], "id long, lon double, lat double, tags map<string,string>")
    ways = spark.createDataFrame(
        [(900, {"name": "Edge", "highway": "x"}, [2, 3])],
        "id long, tags map<string,string>, ns array<long>")
    assert _docs(node_features(nodes))["osmnode/1"] == (
        '{"id":"osmnode/1","title":"Café \\"Q\\" \\\\ ü\\u001F",'
        '"geometry":{"type":"Point","coordinates":[0.001,5.0E-4]},'
        '"categories":{"osm":["amenity:cafe"]},"address":{"street":"Däm"}}'
    )
    assert _docs(way_features(assemble_ways(nodes, ways)))["osmway/900"] == (
        '{"id":"osmway/900","title":"Edge",'
        '"geometry":{"type":"LineString","coordinates":'
        '[[1.0E7,-0.0],[-0.1130375,0.001]]},'
        '"categories":{"osm":["street","highway:x"]}}'
    )

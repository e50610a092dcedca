"""GeoJSON parse (functions/geojson_read.py) — the read side of the
round trip: typed extraction, RFC 7946 checks, quarantine on malformed
docs, and parse(emit(x)) == x over the REAL pipeline emitter (the JVM
json_canon.geojson_doc column on the OSM fixture), the north-star's
"GeoJSON round-trip test cases"."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions.geojson_read import parse_features


def _parse(spark, docs):
    df = spark.createDataFrame([(d,) for d in docs], "geojson string")
    return parse_features(df).collect()


class TestParse:
    def test_all_types(self, spark):
        rows = {r["feature_id"]: r for r in _parse(spark, [
            '{"id":"p","title":"t","geometry":{"type":"Point",'
            '"coordinates":[1.5,-2.25]},"categories":{"osm":["poi"]}}',
            '{"id":"l","title":"t","geometry":{"type":"LineString",'
            '"coordinates":[[0.0,0.0],[3.0,4.0]]},"categories":{"osm":[]}}',
            '{"id":"g","title":"t","geometry":{"type":"Polygon",'
            '"coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,3.0],[0.0,0.0]]]},'
            '"categories":{"osm":["a","b"]}}',
            '{"id":"m","title":"t","geometry":{"type":"MultiPolygon",'
            '"coordinates":[[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]],'
            '[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]]},'
            '"categories":{"osm":["x"]}}',
        ])}
        p = rows["p"]
        assert (p["geom_type"], p["n_points"], p["min_lon"], p["max_lat"],
                p["ring_closed"], p["error"]) == ("Point", 1, 1.5, -2.25,
                                                  None, None)
        assert rows["l"]["n_points"] == 2 and rows["l"]["max_lon"] == 3.0
        g = rows["g"]
        assert (g["n_points"], g["ring_closed"], g["max_lon"],
                g["max_lat"]) == (4, True, 4.0, 3.0)
        assert list(g["categories"]) == ["a", "b"]
        m = rows["m"]
        assert (m["n_points"], m["ring_closed"], m["min_lon"],
                m["max_lon"]) == (8, True, 0.0, 6.0)

    def test_malformed_docs_quarantine(self, spark):
        rows = _parse(spark, [
            '{"id":"a","geometry":{"type":"Blob","coordinates":[1,2]}}',
            '{"id":"b","geometry":{"type":"Point","coordinates":"oops"}}',
            '{"id":"c","geometry":{"type":"Point","coordinates":[1.0]}}',
            '{"id":"d","geometry":{"type":"LineString","coordinates":[]}}',
            'not json at all',
            '{"id":"f","title":"no geometry at all"}',
        ])
        errs = {r["feature_id"]: r["error"] for r in rows}
        assert errs["a"] == "unknown geometry type Blob"
        assert errs["b"] == "coordinates do not match declared type"
        assert errs["c"] == "coordinate position arity != 2"
        assert errs["d"] == "coordinates do not match declared type"
        assert errs[None] == "missing or unparseable geometry.type"
        assert errs["f"] == "missing or unparseable geometry.type"
        for r in rows:
            assert r["geom_type"] is None and r["n_points"] is None

    def test_unclosed_ring_flagged(self, spark):
        rows = _parse(spark, [
            '{"id":"g","geometry":{"type":"Polygon",'
            '"coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,3.0],[1.0,1.0]]]}}'])
        assert rows[0]["ring_closed"] is False
        assert rows[0]["error"] is None

    def test_zero_exchange_plan(self, spark):
        df = spark.createDataFrame([('{"id":"x"}',)], "geojson string")
        plan = parse_features(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestPipelineRoundTrip:
    """parse(geojson_doc(x)) == x over the OSM fixture — every feature
    the real emitter produces comes back with matching id/type/bbox."""

    def test_way_and_node_features_roundtrip(self, spark, fixtures):
        from osm2geojson_spark.operators.osm_join import assemble_ways
        from osm2geojson_spark.operators.postprocess import (
            node_features,
            way_features,
        )

        feats = node_features(fixtures["nodes"]).unionAll(
            way_features(assemble_ways(fixtures["nodes"], fixtures["ways"])))
        parsed = {r["feature_id"]: r for r in parse_features(feats).collect()}
        raw = {r["feature_id"]: r["geojson"] for r in feats.collect()}
        assert parsed.keys() == raw.keys() and len(parsed) > 3

        for fid, docstr in raw.items():
            doc = json.loads(docstr)
            r = parsed[fid]
            assert r["error"] is None, fid
            assert r["geom_type"] == doc["geometry"]["type"]
            assert list(r["categories"]) == doc["categories"]["osm"]
            # independent bbox from the json text
            c = doc["geometry"]["coordinates"]
            gt = r["geom_type"]
            pts = ([c] if gt == "Point" else
                   c if gt == "LineString" else
                   [p for ring in c for p in ring] if gt == "Polygon" else
                   [p for poly in c for ring in poly for p in ring])
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            assert (r["min_lon"], r["min_lat"], r["max_lon"], r["max_lat"]) \
                == (min(xs), min(ys), max(xs), max(ys)), fid
            if r["geom_type"] == "Polygon":
                assert r["ring_closed"] is True

    def test_relation_multipolygon_roundtrip(self, spark, fixtures):
        from osm2geojson_spark.operators.osm_join import (
            assemble_relations,
            assemble_ways,
        )
        from osm2geojson_spark.operators.postprocess import relation_features

        rel = relation_features(assemble_relations(
            fixtures["nodes"], fixtures["relations"],
            assemble_ways(fixtures["nodes"], fixtures["ways"])))
        out = parse_features(rel).collect()
        assert len(out) >= 1
        for r in out:
            assert r["error"] is None
            if r["geom_type"] == "MultiPolygon":
                assert r["ring_closed"] is True and r["n_points"] >= 8


if __name__ == "__main__":
    pytest.main([__file__, "-q"])

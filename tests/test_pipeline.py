"""End-to-end reference-equivalent pipeline over a real XML fixture:
one call from dump to the reference's named gz outputs."""

from __future__ import annotations

import glob
import gzip
import json

import pytest

from osm2geojson_spark.pipeline import intermediate_datasets, osm_to_geojson
from osm2geojson_spark.session import owned
from tools.check_oracle import residue

XML = """<?xml version='1.0'?>
<osm>
  <node id="1" lat="52.0" lon="5.0"/>
  <node id="2" lat="52.0" lon="5.01"/>
  <node id="3" lat="52.01" lon="5.01"/>
  <node id="4" lat="52.01" lon="5.0"/>
  <node id="10" lat="52.005" lon="5.005">
    <tag k="name" v="Spot"/><tag k="amenity" v="cafe"/>
  </node>
  <node id="99" lon="1.0"><tag k="name" v="broken"/></node>
  <way id="100">
    <nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/>
    <tag k="name" v="Block"/><tag k="building" v="yes"/>
  </way>
  <relation id="200">
    <member type="way" ref="100" role="outer"/>
    <tag k="type" v="multipolygon"/><tag k="name" v="Area"/>
    <tag k="leisure" v="park"/>
  </relation>
</osm>
"""


@pytest.fixture(scope="module")
def xml_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("e2e") / "mini.osm"
    p.write_text(XML)
    return str(p)


def _gz_docs(path):
    out = []
    for f in glob.glob(f"{path}/part-*.gz"):
        with gzip.open(f, "rt") as fh:
            out.extend(json.loads(ln) for ln in fh if ln.strip())
    return out


def test_osm_to_geojson_end_to_end(spark, xml_file, tmp_path):
    out = str(tmp_path / "out")
    streams = osm_to_geojson(spark, xml_file, out_dir=out)

    pois = _gz_docs(f"{out}/osm-pois.gz")
    assert [d["id"] for d in pois] == ["osmnode/10"]
    assert pois[0]["categories"]["osm"] == ["amenity:cafe"]

    ways = _gz_docs(f"{out}/osm-ways.gz")
    assert [d["id"] for d in ways] == ["osmway/100"]
    assert ways[0]["geometry"]["type"] == "Polygon"

    rels = _gz_docs(f"{out}/osm-relations.gz")
    assert [d["id"] for d in rels] == ["osmrelation/200"]
    assert rels[0]["geometry"]["type"] == "MultiPolygon"

    assert streams["quarantine"].count() == 1  # node 99 without lat


@pytest.mark.parametrize("distributed", [False, True])
def test_osm_to_geojson_writes_release_their_cache(spark, xml_file, tmp_path,
                                                   distributed):
    """With out_dir the writes share one persisted scan, released when
    the call returns; the returned frames still recompute from the file,
    without caching it again."""
    with owned(spark) as before:
        streams = osm_to_geojson(spark, xml_file, out_dir=str(tmp_path / "out"),
                                 distributed=distributed)
        assert residue(spark, before) == []
    assert [r["feature_id"] for r in streams["pois"].collect()] == ["osmnode/10"]
    assert residue(spark, before) == []


def test_osm_to_geojson_without_out_dir_persists_nothing(spark, xml_file):
    with owned(spark) as before:
        streams = osm_to_geojson(spark, xml_file, distributed=True)
        for df in streams.values():
            df.collect()
        assert residue(spark, before) == []


def test_reference_strict_mode_drops_relations(spark, xml_file):
    streams = osm_to_geojson(spark, xml_file, reference_strict=True)
    assert "relations" not in streams  # OsmPostProcessor.java:356-362


def test_intermediate_datasets_shapes(spark, xml_file):
    from osm2geojson_spark.sources.osm_xml import read_osm_xml

    tabs = read_osm_xml(spark, xml_file)
    inter = intermediate_datasets(tabs["nodes"], tabs["ways"], tabs["relations"])
    assert inter["nodeid2rawnodejson"].count() == 5
    # coordinate-less nodes are quarantined at PARSE time (S7); the
    # intermediate-level split is a second line of defense → empty here
    assert inter["problemNodes"].count() == 0
    assert tabs["quarantine"].count() == 1
    assert inter["nodeid2wayid"].count() == 5   # one row per <nd> ref
    assert inter["wayid2relid"].count() == 1
    assert inter["nodeid2relid"].count() == 0
    cw = inter["wayid2completejson"].first()
    assert [n["id"] for n in cw["nodes"]] == [1, 2, 3, 4, 1]
    cr = inter["relid2completejson"].first()
    assert [w["id"] for w in cr["ways"]] == [100]


def test_kv_resume_routes_malformed_to_quarantine(spark, tmp_path):
    """VERDICT round-2 item 10 e2e: corrupt lines in a kv intermediate →
    quarantine rows out; the POI output is unchanged vs the clean file.
    (The reference crashes the whole job on the first such line.)"""
    import glob
    import gzip
    import json

    from osm2geojson_spark.pipeline import kv_nodes_to_pois, write_kv_nodes
    from osm2geojson_spark.synth.osm import fixture_tables

    nodes = fixture_tables(spark)["nodes"]
    clean = str(tmp_path / "nodes_kv")
    write_kv_nodes(nodes, clean)
    want = sorted(r["geojson"] for r in
                  kv_nodes_to_pois(spark, clean)["pois"].collect())
    assert want

    # corrupt copy: one ';'-less line + one line whose payload isn't json
    gz = glob.glob(f"{clean}/part-*.gz") + glob.glob(f"{clean}/*.gz")
    text = gzip.decompress(open(gz[0], "rb").read()).decode()
    corrupt_dir = tmp_path / "nodes_kv_bad"
    corrupt_dir.mkdir()
    with gzip.open(corrupt_dir / "part-00000.gz", "wt") as f:
        f.write("no separator on this line\n")
        f.write(text)
        f.write("999;{this is not json]\n")

    out = kv_nodes_to_pois(spark, str(corrupt_dir))
    got = sorted(r["geojson"] for r in out["pois"].collect())
    assert got == want, "main output changed by corrupt lines"
    q = {r["reason"] for r in out["quarantine"].collect()}
    assert q == {"kv line without ';' separator",
                 "kv value is not a node json"}
    assert out["quarantine"].count() == 2

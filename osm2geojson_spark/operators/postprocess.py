"""OsmPostProcessor pipelines (reference :115-192) as DataFrame stages.

node stream: filter(name) → Point geometry → interpretTags → doc   (3.2)
way stream:  filter(name) → closure-rule geometry → interpretTags → doc
relation stream: GRAFT — stitched MultiPolygon + interpretTags (the
reference returns null for every relation, OsmPostProcessor.java:216-227).

Wholly pipelined: scan → filter → project → serialize, no shuffle
(SURVEY.md §3.2). Tags are interpreted by one filter/select/filter and
the document is serialized on the JVM (``json_canon.geojson_doc``), so
only the relation stream's ring stitching runs Python. Output schema is
identical across the three streams so sinks can union them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geometry as G
from osm2geojson_spark.functions.json_canon import geojson_doc
from osm2geojson_spark.functions.tags import interpret_tags
from osm2geojson_spark.operators.osm_join import split_nodes

_FEATURE_COLS = [
    "feature_id", "title", "geom_type", "coords_json",
    "categories", "address", "links",
]


def _finish(df: DataFrame) -> DataFrame:
    return df.select(*_FEATURE_COLS, geojson_doc(*_FEATURE_COLS).alias("geojson"))


def node_features(nodes: DataFrame) -> DataFrame:
    """POI stream (OsmPostProcessor.java:115-154). P7's length>50 skip is a
    serialization artifact; its typed equivalent is the name filter below
    (a node without tags can't have a name)."""
    good, _ = split_nodes(nodes)
    df = interpret_tags(good)
    df = df.select(
        F.concat(F.lit("osmnode/"), F.col("id").cast("string")).alias("feature_id"),
        "title",
        F.lit("Point").alias("geom_type"),
        F.to_json(G.point_geometry(F.col("lon"), F.col("lat"))).alias("coords_json"),
        "categories", "address", "links",
    )
    return _finish(df)


def way_features(complete_ways: DataFrame) -> DataFrame:
    """Way stream (OsmPostProcessor.java:156-192) over assembled ways.
    Closure rule GE2: Polygon coords get one extra nesting level."""
    df = interpret_tags(complete_ways.filter(F.size("nodes") > 0))
    coords = G.way_coords(F.col("nodes"))
    gtype = G.way_geom_type(coords)
    df = df.select(
        F.concat(F.lit("osmway/"), F.col("id").cast("string")).alias("feature_id"),
        "title",
        gtype.alias("geom_type"),
        F.when(gtype == "Polygon", F.to_json(F.array(coords)))
        .otherwise(F.to_json(coords)).alias("coords_json"),
        "categories", "address", "links",
    )
    return _finish(df)


def relation_features(assembled_relations: DataFrame) -> DataFrame:
    """GRAFT relation stream: stitched multipolygons (GE3) + tag pipeline.
    Relations with no closed outer ring are dropped (diagnostics carry
    them), mirroring the name/category drops."""
    mp = G.relation_multipolygons(assembled_relations)
    df = interpret_tags(mp.filter(F.col("multipolygon").isNotNull()))
    df = df.select(
        F.concat(F.lit("osmrelation/"), F.col("id").cast("string")).alias("feature_id"),
        "title",
        F.lit("MultiPolygon").alias("geom_type"),
        F.to_json(F.col("multipolygon")).alias("coords_json"),
        "categories", "address", "links",
    )
    return _finish(df)

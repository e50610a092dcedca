"""interpretTags truth table (OsmPostProcessor.java:244-345): every
whitelist tag, every special-case rule, case-insensitivity, and the two
row-dropping filters, pinned input→output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions.tags import categories_expr, interpret_tags

CASES = [
    # (tags, expected categories in canonical order)
    ({"amenity": "cafe"}, ["amenity:cafe"]),
    ({"shop": "bakery"}, ["shop:bakery"]),
    ({"tourism": "hotel"}, ["tourism:hotel"]),
    ({"historic": "castle"}, ["historic:castle"]),
    ({"leisure": "park"}, ["leisure:park"]),
    ({"natural": "wood"}, ["natural:wood"]),
    ({"cuisine": "ramen"}, ["cuisine:ramen"]),
    ({"admin-level": "2"}, ["admin-level:2"]),
    # highway adds bare "street" BEFORE highway:<v> (:260-261)
    ({"highway": "residential"}, ["street", "highway:residential"]),
    # building=yes → "building" via special rule; note building:<v>
    # whitelist fires too (reference switch falls through the same way)
    ({"building": "yes"}, ["building:yes", "building"]),
    # building=yes + amenity=public_building → public-building
    ({"building": "yes", "amenity": "public_building"},
     ["amenity:public_building", "building:yes", "public-building"]),
    # railway rules (:306-330) with case-insensitive matching (:347-354)
    ({"railway": "tram_stop"}, ["tram-stop"]),
    ({"railway": "TRAM_STOP"}, ["tram-stop"]),
    ({"railway": "station"}, ["train-station"]),
    ({"railway": "halt"}, ["train-station"]),
    ({"station": "light_rail"}, ["light-rail-station"]),
    # public_transport=stop_position variants
    ({"public_transport": "stop_position", "light_rail": "yes"},
     ["light-rail-station"]),
    ({"public_transport": "stop_position", "bus": "yes"}, ["bus-stop"]),
    ({"public_transport": "stop_position", "railway": "halt"},
     ["train-station", "train-station"][:1]),
    # no category tags at all → empty (row would be dropped by P9)
    ({"name": "nothing"}, []),
    # building=no does NOT trigger the special rule
    ({"building": "no"}, ["building:no"]),
]


@pytest.mark.parametrize("tags,expected", CASES)
def test_categories_truth_table(spark, tags, expected):
    df = spark.createDataFrame([(tags,)], "tags map<string,string>")
    got = df.select(categories_expr("tags").alias("c")).first()["c"]
    assert got == expected, (tags, got, expected)


def test_interpret_tags_builds_in_few_py4j_round_trips(spark, monkeypatch):
    """Each derived column is one parsed SQL expression: building the
    frame costs a handful of py4j calls, not one per expression node
    (the chained-Column build made 1,776)."""
    df = spark.createDataFrame([], "id long, tags map<string,string>")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*a, **kw):
        calls.append(1)
        return send(*a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    interpret_tags(df)
    monkeypatch.undo()
    assert 0 < len(calls) <= 200, len(calls)

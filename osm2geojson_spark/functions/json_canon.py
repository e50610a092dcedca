"""Canonical GeoJSON document serializer (SURVEY.md §4 custom-work #3).

The reference emits jsonj objects in insertion order: id, title, geometry,
categories, address?, links? (OsmPostProcessor.java:128-131, 332-343). We
pin exactly that key order.

The document is built on the JVM from two ``to_json`` calls around the
geometry's ``coords_json`` (itself a ``to_json`` of the coordinate
arrays), so every number is printed by Java's ``Double.toString`` — the
reference's own formatter, jsonj on the JVM — and no row crosses into
Python. ``to_json`` leaves out null struct fields, which gives the
optional ``address``/``links`` keys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_KEEP_NULLS = {"ignoreNullFields": "false"}
_DROP_NULLS = {"ignoreNullFields": "true"}


def geojson_doc(fid, title, geom_type, coords_json, categories, address,
                links) -> Column:
    """One feature document per row; each argument is a column name or
    a ``Column``. ``coords_json`` is the geometry's coordinates as JSON
    text; ``address``/``links`` are written only when non-empty.

    ``{"id":…,"title":…,"geometry":{"type":…`` comes from the head
    ``to_json`` with its closing ``}}`` trimmed (the type is a quoted
    string, so only those two braces trail), then
    ``,"coordinates":<coords_json>}``, then the tail ``to_json`` of
    categories/address/links with its opening ``{`` turned into ``,``."""
    fid, title, geom_type, coords_json, categories, address, links = (
        F.col(c) if isinstance(c, str) else c
        for c in (fid, title, geom_type, coords_json, categories, address, links))
    head = F.to_json(F.struct(
        fid.alias("id"), title.alias("title"),
        F.struct(geom_type.alias("type")).alias("geometry")), _KEEP_NULLS)
    tail = F.to_json(F.struct(
        F.struct(categories.alias("osm")).alias("categories"),
        F.when(F.size(address) > 0, address).alias("address"),
        F.when(F.size(links) > 0, links).alias("links")), _DROP_NULLS)
    return F.concat(F.rtrim(head, F.lit("}")), F.lit(',"coordinates":'),
                    coords_json, F.lit("}"), F.overlay(tail, F.lit(","), 1))

"""P8-P13 — tag interpretation as pure column expressions (no UDF).

Recreates ``interpretTags`` (reference OsmPostProcessor.java:244-345):
- addr:* tags → ``address`` map with the prefix stripped (:252-253)
- name:* tags → per-language name map (:254-257; NOTE the reference builds
  this but never attaches it to the output — we expose it behind
  ``include_names``, default off, to match observable behavior)
- whitelist of 10 category tags → "k:v" category; ``highway`` also adds the
  bare "street" (:259-293)
- 7 special-case rules via case-insensitive hasPair (:297-330, :347-354)
- empty category set → row dropped (:332-337, P9)
- website tag → links [{href}] (:341-343)

Each derived column is ONE Spark SQL expression over the tags column
name, parsed once by ``F.expr``: building the same rules from chained
``Column`` calls costs a py4j round trip per node of the expression
tree, paid again for every stream.

Category ORDER: the reference uses insertion order of a jsonj JsonSet fed
from a hash-map tag iteration — not stable. We pin a canonical order
(whitelist order, then special rules in source order, then dedup) so output
is deterministic under any partitioning (SURVEY.md §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# OsmPostProcessor.java:259-289 switch cases, in source order
CATEGORY_TAGS = [
    "highway", "leisure", "amenity", "natural", "historic",
    "cuisine", "tourism", "shop", "building", "admin-level",
]


def _q(tags: str) -> str:
    return "`" + tags.replace("`", "``") + "`"


def _has_pair(t: str, key: str, value: str) -> str:
    """hasPair (OsmPostProcessor.java:347-354): equalsIgnoreCase on value."""
    return f"lower({t}['{key}']) = '{value.lower()}'"


def categories_expr(tags: str) -> Column:
    """Canonical-ordered, deduped category array (P12+P13) of the map
    column named ``tags``: one nullable candidate per rule, in rule
    order, nulls dropped, then ``array_distinct``."""
    t = _q(tags)
    cands = []
    for k in CATEGORY_TAGS:
        if k == "highway":  # bare "street" precedes "highway:<v>" (:260-261)
            cands.append(f"IF({t}['{k}'] IS NOT NULL, 'street', NULL)")
        cands.append(f"concat('{k}:', {t}['{k}'])")
    # special rules, source order OsmPostProcessor.java:297-330
    cands += [
        f"CASE WHEN {_has_pair(t, 'building', 'yes')} THEN "
        f"IF({_has_pair(t, 'amenity', 'public_building')}, "
        "'public-building', 'building') END",
        f"IF({_has_pair(t, 'railway', 'tram_stop')}, 'tram-stop', NULL)",
        f"IF({_has_pair(t, 'railway', 'station')}, 'train-station', NULL)",
        f"IF({_has_pair(t, 'railway', 'halt')}, 'train-station', NULL)",
        f"IF({_has_pair(t, 'station', 'light_rail')}, 'light-rail-station', NULL)",
        f"CASE WHEN {_has_pair(t, 'public_transport', 'stop_position')} THEN "
        f"CASE WHEN {_has_pair(t, 'light_rail', 'yes')} THEN 'light-rail-station' "
        f"WHEN {_has_pair(t, 'bus', 'yes')} THEN 'bus-stop' "
        f"WHEN {_has_pair(t, 'railway', 'halt')} THEN 'train-station' END END",
    ]
    return F.expr(
        f"array_distinct(filter(array({', '.join(cands)}), c -> c IS NOT NULL))")


def _prefixed(t: str, prefix: str) -> str:
    """``prefix*`` keys of map ``t``, with the prefix stripped."""
    return (f"transform_keys(map_filter({t}, (k, v) -> startswith(k, '{prefix}')), "
            f"(k, v) -> substring(k, {len(prefix) + 1}, 2147483647))")


def address_expr(tags: str) -> Column:
    """addr:* → map with 5-char prefix stripped (OsmPostProcessor.java:252)."""
    return F.expr(_prefixed(_q(tags), "addr:"))


def names_expr(tags: str) -> Column:
    """name:* → map<lang, array<name>> (built-but-unattached in reference)."""
    return F.expr(
        f"transform_values({_prefixed(_q(tags), 'name:')}, (k, v) -> array(v))")


def links_expr(tags: str) -> Column:
    """website → [{href}], else null (OsmPostProcessor.java:341-343)."""
    t = _q(tags)
    return F.expr(f"CASE WHEN {t}['website'] IS NOT NULL "
                  f"THEN array(named_struct('href', {t}['website'])) END")


def interpret_tags(df: DataFrame, tags_col: str = "tags",
                   include_names: bool = False) -> DataFrame:
    """Add title/categories/address/links (and ``names`` when asked) to
    every column of ``df``, keeping only rows with a name (P8) and at
    least one category (P9): one filter, one select, one filter."""
    t = _q(tags_col)
    cols = [
        F.expr(f"{t}['name']").alias("title"),
        categories_expr(tags_col).alias("categories"),
        address_expr(tags_col).alias("address"),
        links_expr(tags_col).alias("links"),
    ]
    if include_names:
        cols.append(names_expr(tags_col).alias("names"))
    return (df.filter(f"{t}['name'] IS NOT NULL")
            .select("*", *cols)
            .filter("size(categories) > 0"))

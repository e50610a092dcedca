"""The reference's 7-stage join DAG (OsmJoin.java:423-461) as DataFrames.

Reference physicals → Spark mapping (SURVEY.md §2.3-2.4):
- external merge sort + k-way merge (SortingWriter/MergingEntryIterable)
  → owned by the shuffle; nothing to write.
- the single sort-merge cogrouped inner join (EntryJoiningIterable.java:17-101)
  used 6x with different recombinators → equi joins + groupBy/collect_list.
- ordering is NEVER implicit: node-chaining carries an explicit ``pos`` from
  posexplode and re-sorts inside the aggregated array (risk §7.4).

Scale notes (planet = ~9e9 entities): edges⋈nodes is large⋈large → SMJ on
node_id (1 shuffle each side); reassembly groupBy(way_id) is the second
shuffle — same two sort boundaries the reference pays per stage, but
distributed. Way sizes are bounded (~2k nodes max in OSM), so per-key
collect_list arrays are small; relation fan-in is the skewed one and is
assembled from already-aggregated way rows (bounded by member count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def way_edges(ways: DataFrame) -> DataFrame:
    """P4 edge emission (OsmJoin.java:204-208): one row per <nd ref>,
    with explicit position — the ordering IS the geometry."""
    return ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("ns").alias("pos", "node_id"),
    )


def rel_member_edges(relations: DataFrame) -> DataFrame:
    """P5 (OsmJoin.java:222-252): one row per member; relation-type members
    silently dropped (OsmJoin.java:245-246 'FIXME support relation members')."""
    return (
        relations.select(
            F.col("id").alias("rel_id"),
            F.posexplode("members").alias("pos", "m"),
        )
        .filter(F.col("m.type") != "relation")
        .select("rel_id", "pos", F.col("m.id").alias("member_id"),
                F.col("m.type").alias("member_type"), F.col("m.role").alias("role"))
    )


def split_nodes(nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P6 coordinate-presence predicate (OsmJoin.java:162,176-179):
    (good, quarantine) split — quarantine mirrors problemNodes.gz."""
    ok = F.col("lon").isNotNull() & F.col("lat").isNotNull()
    return nodes.filter(ok), nodes.filter(~ok)


def assemble_ways(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """J1+J2 — way geometry assembly (OsmJoin.java:270-323).

    edges ⋈ nodes on node_id (left join so unresolved refs surface), then
    groupBy(way_id) + sort_array(collect_list(struct(pos, …))) rebuilds the
    chain in ns-order without any UDF. Repeated refs keep repeated coords
    (one edge row per ref); unresolved refs → ``missing_node_refs``
    (OsmJoin.java:305-312).

    Output: (id, tags, nodes: array<struct<id,lon,lat>>, missing_node_refs).
    """
    good, _ = split_nodes(nodes)
    edges = way_edges(ways)
    resolved = edges.join(
        good.select(F.col("id").alias("node_id"), "lon", "lat"),
        "node_id", "left",
    )
    per_way = resolved.groupBy("way_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", F.col("node_id").alias("id"), "lon", "lat"))
        ).alias("chain")
    )
    assembled = per_way.select(
        "way_id",
        F.transform(
            F.filter("chain", lambda c: c["lon"].isNotNull()),
            lambda c: F.struct(c["id"].alias("id"), c["lon"].alias("lon"), c["lat"].alias("lat")),
        ).alias("nodes"),
        F.transform(
            F.filter("chain", lambda c: c["lon"].isNull()), lambda c: c["id"]
        ).alias("missing_node_refs"),
    )
    return ways.join(assembled, ways["id"] == assembled["way_id"], "left").select(
        ways["id"], "tags",
        F.coalesce("nodes", F.array().cast("array<struct<id:long,lon:double,lat:double>>")).alias("nodes"),
        F.coalesce("missing_node_refs", F.array().cast("array<long>")).alias("missing_node_refs"),
    )


def assemble_relations(
    nodes: DataFrame, relations: DataFrame, complete_ways: DataFrame
) -> DataFrame:
    """J3-J6 — relation assembly (OsmJoin.java:325-421).

    Embeds member nodes (J3/J4) and COMPLETE member ways — geometry already
    attached (J5/J6, 'uses assembled ways so rel members carry geometry').
    The reference collects members unordered (collection order of the
    sorted-merge); we pin member order (pos) as the canonical order —
    deterministic under any parallelism, documented delta per SURVEY §7.

    Output: (id, tags,
             nodes:  array<struct<pos,role,id,lon,lat>>,
             ways:   array<struct<pos,role,id,tags,nodes,missing_node_refs>>).
    """
    good, _ = split_nodes(nodes)
    edges = rel_member_edges(relations)

    node_members = (
        edges.filter(F.col("member_type") == "node")
        .join(good.withColumnRenamed("id", "member_id").select("member_id", "lon", "lat"),
              "member_id", "inner")
        .groupBy("rel_id")
        .agg(F.array_sort(F.collect_list(F.struct(
            "pos", "role", F.col("member_id").alias("id"), "lon", "lat"))).alias("nodes"))
    )
    way_members = (
        edges.filter(F.col("member_type") == "way")
        .join(complete_ways.withColumnRenamed("id", "member_id")
              .withColumnRenamed("tags", "wtags"), "member_id", "inner")
        .groupBy("rel_id")
        .agg(F.array_sort(
            F.collect_list(F.struct(
                "pos", "role", F.col("member_id").alias("id"), F.col("wtags").alias("tags"),
                "nodes", "missing_node_refs")),
            # structs holding maps aren't naturally orderable → explicit pos comparator
            lambda a, b: F.when(a["pos"] < b["pos"], -1)
            .when(a["pos"] > b["pos"], 1).otherwise(0),
        ).alias("ways"))
    )
    return (
        relations.join(node_members, relations["id"] == node_members["rel_id"], "left")
        .drop("rel_id")
        .join(way_members, relations["id"] == way_members["rel_id"], "left")
        .drop("rel_id")
        .select(
            "id", "tags",
            F.coalesce("nodes", F.array().cast(
                "array<struct<pos:int,role:string,id:long,lon:double,lat:double>>")).alias("nodes"),
            F.coalesce("ways", F.array().cast(
                "array<struct<pos:int,role:string,id:long,tags:map<string,string>,"
                "nodes:array<struct<id:long,lon:double,lat:double>>,"
                "missing_node_refs:array<long>>>")).alias("ways"),
        )
    )


def salted_ordered_collect(
    df: DataFrame, key: str, payload, n_salt: int = 8,
    out_col: str = "chain",
) -> DataFrame:
    """Two-phase ordered collect for HOT keys (SURVEY §7 risk 5: a
    pathological key — a node in thousands of ways, a relation with 10^5
    members — makes one reducer collect a giant array, the same pressure
    that forced the reference's bucketSize=10k overrides,
    OsmJoin.java:396-398).

    Phase 1 groups by (key, salt(pos)) so each reducer builds a bounded
    partial chain; phase 2 concatenates the partials in salt order and
    re-sorts. Output equals groupBy(key).agg(array_sort(collect_list(…)))
    exactly (pos carries the order), but the max per-task array is
    |group|/n_salt. ``payload`` must be a struct Column whose FIRST field
    is the ordering position."""
    # salt must vary WITHIN a key group → hash the payload too
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(key), payload), F.lit(n_salt)))
    phase1 = salted.groupBy(key, "_salt").agg(
        F.array_sort(F.collect_list(payload)).alias("part"))
    phase2 = phase1.groupBy(key).agg(
        F.array_sort(F.flatten(F.collect_list("part"))).alias(out_col))
    return phase2


def cogroup_join(left: DataFrame, right: DataFrame, key: str = "key") -> DataFrame:
    """J0 — the reference's inner cogrouped join (EntryJoiningIterable.java:
    17-101): keys present in BOTH sides yield one row with ALL left values
    and ALL right values (not an m×n product). Values are sorted inside each
    group for determinism (the reference's are key-sorted file order).
    """
    lg = left.groupBy(key).agg(F.array_sort(F.collect_list("value")).alias("left_values"))
    rg = right.groupBy(key).agg(F.array_sort(F.collect_list("value")).alias("right_values"))
    return lg.join(rg, key, "inner")


def dedup_kv(df: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """O4 — TreeMultimap (k,v)-pair dedup (SortingWriter.java:76-81)."""
    return df.dropDuplicates([key, value])

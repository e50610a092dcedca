"""G4 — raster-tile ↔ vector join: assign every image/point row to its
map tile, with explicit skew handling for hot tiles (dense urban cells).

A tile at zoom z IS the Morton cell at resolution z (the quadtree is the
tile pyramid: slippy-map convention, z/x/y). Assignment is therefore a
pure column expression — zero shuffle. The vector join (tile metadata,
GeoJSON tile boundaries) is a broadcast equi-join on tile_id.

Salting (SURVEY.md §4 custom-work 2): when a tile's row count is
pathological (urban extracts), `salted_tile_join` splits hot keys into
``n_salt`` sub-keys and replicates the small side — on top of AQE's
runtime skew splitting, which this engine enables by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.functions import cells as C


def tile_expr(lon, lat, zoom: int):
    """Tile id at zoom = Morton cell at resolution ``zoom``."""
    return C.cell_expr(lon, lat, zoom)


def tile_table(spark, zoom: int) -> DataFrame:
    """All 4^zoom tiles with bbox + GeoJSON boundary (built distributed)."""
    n = 1 << zoom
    df = spark.range(4**zoom).select(F.col("id").alias("tile_id"))
    # de-interleave via join-free expr: reconstruct ix,iy by compacting bits
    ix = F.lit(0).cast("long")
    iy = F.lit(0).cast("long")
    for b in range(zoom):
        ix = ix.bitwiseOR(F.shiftleft(F.shiftright("tile_id", 2 * b).bitwiseAND(F.lit(1)), b))
        iy = iy.bitwiseOR(F.shiftleft(F.shiftright("tile_id", 2 * b + 1).bitwiseAND(F.lit(1)), b))
    df = df.select(
        "tile_id", F.lit(zoom).alias("zoom"),
        (ix.cast("double") / n * 360.0 - 180.0).alias("lon_min"),
        ((ix + 1).cast("double") / n * 360.0 - 180.0).alias("lon_max"),
        (iy.cast("double") / n * 180.0 - 90.0).alias("lat_min"),
        ((iy + 1).cast("double") / n * 180.0 - 90.0).alias("lat_max"),
    )
    ring = F.array(
        F.array("lon_min", "lat_min"), F.array("lon_max", "lat_min"),
        F.array("lon_max", "lat_max"), F.array("lon_min", "lat_max"),
        F.array("lon_min", "lat_min"),
    )
    return df.withColumn(
        "geojson",
        F.concat(F.lit('{"type":"Polygon","coordinates":['), F.to_json(ring), F.lit("]}")),
    )


def assign_tiles(points: DataFrame, zoom: int,
                 lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Narrow, shuffle-free tile assignment."""
    return points.withColumn("tile_id", tile_expr(F.col(lon_col), F.col(lat_col), zoom))


def tile_vector_join(points: DataFrame, tiles: DataFrame, zoom: int,
                     lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Points ⋈ tile metadata — broadcast equi-join on tile_id."""
    return assign_tiles(points, zoom, lon_col, lat_col).join(
        F.broadcast(tiles), "tile_id"
    )


def salted_tile_join(points: DataFrame, tiles: DataFrame, zoom: int,
                     n_salt: int = 8, id_col: str = "image_id",
                     lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Skew-proof variant: hash-salt the fact side, replicate the dim side
    n_salt×. Use when the dim side is too big to broadcast AND tiles are
    hot; otherwise prefer tile_vector_join (broadcast beats salting)."""
    pts = assign_tiles(points, zoom, lon_col, lat_col).withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt")
    tiles_rep = tiles.select("*", salts)
    return pts.join(tiles_rep, ["tile_id", "salt"]).drop("salt")


def tile_pyramid(points: DataFrame, zoom: int, levels: int,
                 lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Hierarchical rollup: counts at ``zoom`` then re-aggregated up the
    quadtree via parent arithmetic — each coarser level is an agg over
    the FINER level's (already tiny) histogram, so the raw points are
    scanned exactly once regardless of pyramid depth."""
    base = tile_histogram(points, zoom, lon_col, lat_col) \
        .withColumn("zoom", F.lit(zoom))
    out = base
    cur = base
    for z in range(zoom - 1, zoom - 1 - levels, -1):
        cur = (cur.select(F.shiftright("tile_id", 2).alias("tile_id"), "n_rows")
               .groupBy("tile_id").agg(F.sum("n_rows").alias("n_rows"))
               .withColumn("zoom", F.lit(z)))
        out = out.unionByName(cur)
    return out


def distance_join(
    left: DataFrame, right: DataFrame, radius_deg: float,
    left_id: str = "l_id", right_id: str = "r_id",
) -> DataFrame:
    """All (left, right) pairs within ``radius_deg`` planar degrees —
    a range/theta join executed as cell equi-prefilter + exact residual.

    Resolution is chosen so one cell is at least the radius on both
    axes; then every qualifying pair lies within the 3x3 cell disk of
    the right row, so the equi-join on exploded disk cells is a complete
    candidate generator (never a cross join). Exact predicate is planar
    squared distance (mul/add only — DuckDB-oracle bit-exact). Longitude
    wrap at ±180 is not folded (documented; the oracle uses the same
    plane)."""
    import math

    from osm2geojson_spark.functions import cells as C

    res = max(1, min(C.MAX_RES, int(math.floor(math.log2(180.0 / radius_deg)))))
    n = 1 << res
    lcell = left.select(
        F.col(left_id), F.col("lon").alias("llon"), F.col("lat").alias("llat"),
        C.cell_expr(F.col("lon"), F.col("lat"), res).alias("cell"))
    rix = C.lon_ix(F.col("lon"), res)
    riy = C.lat_iy(F.col("lat"), res)
    disk = F.array_distinct(F.flatten(F.transform(
        F.sequence(F.lit(-1), F.lit(1)),
        lambda dx: F.transform(
            F.sequence(F.lit(-1), F.lit(1)),
            lambda dy: C.cell_from_ixiy(
                F.least(F.greatest(rix + dx, F.lit(0)), F.lit(n - 1)),
                F.least(F.greatest(riy + dy, F.lit(0)), F.lit(n - 1)))))))
    rcell = right.select(
        F.col(right_id), F.col("lon").alias("rlon"), F.col("lat").alias("rlat"),
        F.explode(disk).alias("cell"))
    dx = F.col("llon") - F.col("rlon")
    dy = F.col("llat") - F.col("rlat")
    return (lcell.join(rcell, "cell")
            .withColumn("dist2", dx * dx + dy * dy)
            .filter(F.col("dist2") <= radius_deg * radius_deg)
            .select(left_id, right_id, "dist2")
            .dropDuplicates([left_id, right_id]))


def tile_histogram(points: DataFrame, zoom: int,
                   lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Per-tile row counts — the skew-detection metric (feeds the metrics
    table; hot tiles found here get the salted path)."""
    return (
        assign_tiles(points, zoom, lon_col, lat_col)
        .groupBy("tile_id").agg(F.count("*").alias("n_rows"))
    )

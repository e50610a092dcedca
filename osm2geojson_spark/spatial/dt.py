"""L1 distance transform + nearest-feature allocation over tiled masks.

The image/GIS staple (morphology, buffering, proximity maps, raster
Voronoi): for every pixel, the L1 distance to the nearest foreground
pixel AND which one it is. Distributed as MULTI-SOURCE BFS over the
4-adjacent grid using the route family's frontier machinery — with
one twist that buys the argmin for free: distances carry the pair
(dist, src) ENCODED as ``dist·K + src_cell`` (K = W·H > any cell id),
so integer MIN is exactly lexicographic (dist, src) min and the
standard relaxation ``enc + w`` (w = K = "one step") preserves the
encoding. No virtual source node, no per-source matrix state — O(V)
state total, the scalable shape (a travel-matrix DT is O(V·S)).

Rounds = max L1 distance to the nearest feature (frontier contract);
for sparse features at continental scale use the Δ-stepping variant
(`spatial/route.shortest_paths_delta`) with the same encoding — the
frontier loop here matches the dense-feature DT regime where the
transform converges in a handful of rounds.

Encoding bound: max_dist·K + K ≤ int64 ⇒ W·H·(max_dist+1) < 2⁶³ —
satisfied for any raster whose cell ids fit in int32 (dist ≤ W+H).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["distance_transform", "distance_transform_update"]


def _grid4_edges(cells: DataFrame, w_px: int, h_px: int, k: int,
                 name: str) -> DataFrame:
    """4-neighbour edges ``(src, dst, w = k)`` out of ``cells`` ``(cell,
    x, y)`` through the route edge prologue (errors named for ``name``):
    one step costs ``k`` in the encoded label."""
    from osm2geojson_spark.spatial.route import _edges

    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))])
    return _edges(
        cells.select("cell", "x", "y", F.explode(offs).alias("o"))
        .withColumn("nx", F.col("x") + F.col("o.dx"))
        .withColumn("ny", F.col("y") + F.col("o.dy"))
        .where((F.col("nx") >= 0) & (F.col("nx") < w_px)
               & (F.col("ny") >= 0) & (F.col("ny") < h_px))
        .select(F.col("cell").alias("src"),
                (F.col("ny") * w_px + F.col("nx")).alias("dst"),
                F.lit(k).cast("long").alias("w")), name)


def _decode(enc: DataFrame, w_px: int, k: int) -> DataFrame:
    """Encoded labels ``(id, dist·K + src)`` → ``(x, y, dist, nearest)``."""
    return enc.select(
        (F.col("id") % w_px).alias("x"),
        F.expr(f"id div {w_px}").alias("y"),
        F.expr(f"dist div {k}").alias("dist"),
        (F.col("dist") % k).alias("nearest"))


def distance_transform(mask_tiles: DataFrame, tile_size: int,
                       width: int, height: int,
                       max_iters: int = 64) -> DataFrame:
    """``(tx, ty, data array<long>)`` 0/1 mask tiles → per pixel
    ``(x, y, dist, nearest)``: L1 distance to the nearest foreground
    cell and its cell id (``y·W + x``), ties → smallest cell id."""
    from osm2geojson_spark.spatial.route import _frontier_relax

    t = int(tile_size)
    w_px, h_px = int(width), int(height)
    k = w_px * h_px

    cells = (
        mask_tiles.select("tx", "ty",
                          F.posexplode("data").alias("i", "fg"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + F.expr(f"i div {t}")).alias("y"),
            F.col("fg").cast("long").alias("fg"))
        .withColumn("cell", F.col("y") * w_px + F.col("x")))

    seeds = (cells.where(F.col("fg") == 1)
             .select(F.col("cell").alias("id"),
                     F.col("cell").alias("dist"))
             .localCheckpoint(eager=True))
    if seeds.limit(1).count() == 0:
        raise ValueError("distance_transform needs >= 1 foreground cell")

    e = _grid4_edges(cells, w_px, h_px, k, "distance_transform")
    return _decode(_frontier_relax(
        e, seeds, ("id",), max_iters, "distance_transform",
        hint=" (rounds needed = max L1 distance)"), w_px, k)


def distance_transform_update(dist: DataFrame, new_cells: DataFrame,
                              width: int, height: int,
                              max_iters: int = 64) -> DataFrame:
    """Incremental DT maintenance — features only ever ARRIVE
    (new stores, new sensors): seed the frontier with the new
    foreground cells and relax from there instead of recomputing
    from every feature; the encoded (dist, src) labels only
    decrease, so label-correcting converges to the exact new
    fixpoint (the `spatial/route.sssp_update` contract — feature
    REMOVAL needs a cold rerun, same as weight increases there).

    ``dist``: a converged :func:`distance_transform` output;
    ``new_cells``: (x, y) of the arriving features. Rounds = max L1
    distance from a new feature to the cells it now wins."""
    from osm2geojson_spark.spatial.route import _frontier_relax

    w_px, h_px = int(width), int(height)
    k = w_px * h_px

    enc0 = dist.select(
        (F.col("y") * w_px + F.col("x")).alias("id"),
        (F.col("dist") * k + F.col("nearest")).alias("dist"))
    seeds = new_cells.select(
        (F.col("y") * w_px + F.col("x")).alias("id"),
        (F.col("y") * w_px + F.col("x")).alias("nd"))
    cells = dist.sparkSession.range(k).select(
        F.col("id").alias("cell"), (F.col("id") % w_px).alias("x"),
        F.expr(f"id div {w_px}").alias("y"))
    e = _grid4_edges(cells, w_px, h_px, k, "distance_transform_update")
    return _decode(_frontier_relax(
        e, enc0, ("id",), max_iters, "distance_transform_update",
        reseed=seeds), w_px, k)

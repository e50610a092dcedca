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

from osm2geojson_spark.session import persist

__all__ = ["distance_transform", "distance_transform_update"]


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

    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))])
    e = persist(
        cells.select("cell", "x", "y", F.explode(offs).alias("o"))
        .withColumn("nx", F.col("x") + F.col("o.dx"))
        .withColumn("ny", F.col("y") + F.col("o.dy"))
        .where((F.col("nx") >= 0) & (F.col("nx") < w_px)
               & (F.col("ny") >= 0) & (F.col("ny") < h_px))
        .select(F.col("cell").alias("src"),
                (F.col("ny") * w_px + F.col("nx")).alias("dst"),
                F.lit(k).cast("long").alias("w"))
        .repartition(F.col("src"))
        .sortWithinPartitions("src"))

    seeds = (cells.where(F.col("fg") == 1)
             .select(F.col("cell").alias("id"),
                     F.col("cell").alias("dist"))
             .localCheckpoint(eager=True))
    if seeds.limit(1).count() == 0:
        e.unpersist()
        raise ValueError("distance_transform needs >= 1 foreground cell")

    enc, rounds, changed = _frontier_relax(e, seeds, seeds, max_iters)
    e.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"distance_transform did not converge in {max_iters} rounds;"
            " raise max_iters (rounds needed = max L1 distance)")
    return enc.select(
        (F.col("id") % w_px).alias("x"),
        F.expr(f"id div {w_px}").alias("y"),
        F.expr(f"dist div {k}").alias("dist"),
        (F.col("dist") % k).alias("nearest"))


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
    spark = dist.sparkSession

    enc0 = dist.select(
        (F.col("y") * w_px + F.col("x")).alias("id"),
        (F.col("dist") * k + F.col("nearest")).alias("dist"))
    seeds = new_cells.select(
        (F.col("y") * w_px + F.col("x")).alias("id"),
        (F.col("y") * w_px + F.col("x")).alias("nd"))
    merged = (
        enc0.join(seeds, "id", "full")
        .select(
            "id",
            F.least(F.coalesce("dist", "nd"),
                    F.coalesce("nd", "dist")).alias("dist"),
            (F.col("dist").isNull()
             | (F.col("nd") < F.col("dist"))).alias("_imp"))
        .localCheckpoint(eager=True))
    frontier = merged.where("_imp").select("id", "dist")

    offs = F.array(*[F.struct(F.lit(dx).alias("dx"),
                              F.lit(dy).alias("dy"))
                     for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))])
    e = persist(
        spark.range(w_px * h_px)
        .select(F.col("id").alias("cell"),
                (F.col("id") % w_px).alias("x"),
                F.expr(f"id div {w_px}").alias("y"),
                F.explode(offs).alias("o"))
        .withColumn("nx", F.col("x") + F.col("o.dx"))
        .withColumn("ny", F.col("y") + F.col("o.dy"))
        .where((F.col("nx") >= 0) & (F.col("nx") < w_px)
               & (F.col("ny") >= 0) & (F.col("ny") < h_px))
        .select(F.col("cell").alias("src"),
                (F.col("ny") * w_px + F.col("nx")).alias("dst"),
                F.lit(k).cast("long").alias("w"))
        .repartition(F.col("src"))
        .sortWithinPartitions("src"))
    enc, rounds, changed = _frontier_relax(
        e, merged.select("id", "dist"), frontier, max_iters)
    e.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"distance_transform_update did not converge in "
            f"{max_iters} rounds; raise max_iters")
    return enc.select(
        (F.col("id") % w_px).alias("x"),
        F.expr(f"id div {w_px}").alias("y"),
        F.expr(f"dist div {k}").alias("dist"),
        (F.col("dist") % k).alias("nearest"))

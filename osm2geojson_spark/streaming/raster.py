"""Streaming twin for the focal raster family (spatial/focal.py):
maintain a focal surface (hillshade / focal sum / flow direction) over
a STREAM of DEM tile upserts — satellite swaths, lidar re-flights,
editable-terrain pipelines all update rasters tile-wise.

The incremental insight is the halo-exchange locality itself: a 3×3
kernel means an updated tile can only change the output of ITSELF and
its 8 neighbors. So each micro-batch

1. last-write-wins dedups the batch's tile upserts and merges them
   into the cached tile table (``events.upsert_latest``, the routing
   twin's edge merge),
2. marks the DIRTY set = updated tiles ∪ their 8 neighbors,
3. re-runs the focal op over dirty ∪ THEIR neighbors (the donor ring —
   dirty tiles still need clean neighbors' strips) and keeps only the
   dirty outputs,
4. publishes old-minus-dirty ∪ recomputed as a global temp view.

Re-render cost per batch is O(9 · updated tiles), never O(raster) —
pinned by the stats dict and by the stream == cold-batch test.

State (tile table + focal surface) lives as eagerly localCheckpointed
DataFrames across batches — bounded by the raster size, no driver rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.spatial.focal import focal_op
from osm2geojson_spark.streaming.events import run_available_now, upsert_latest

__all__ = ["TILE_UPDATES_SCHEMA", "focal_stream_to_memory"]

# DEM tile upserts as file drops (``events.file_stream``); ``seq`` orders
# the upserts of one tile within a batch, last write wins
TILE_UPDATES_SCHEMA = "tx long, ty long, data array<long>, seq long"


def _neighbors(tiles: DataFrame) -> DataFrame:
    """Distinct (tx, ty) → the 3×3 neighborhood key set."""
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
    return (tiles.select("tx", "ty", F.explode(offs).alias("o"))
            .select((F.col("tx") + F.col("o.dx")).alias("tx"),
                    (F.col("ty") + F.col("o.dy")).alias("ty"))
            .distinct())


def focal_stream_to_memory(
    spark,
    updates: DataFrame,
    base_tiles: DataFrame,
    name: str,
    op: str = "hillshade",
    tile_size: int = 64,
    stats: dict | None = None,
) -> None:
    """Run the tile-upsert stream to completion (availableNow),
    maintaining the focal surface incrementally; publishes the current
    surface as global temp view ``name`` with schema (tx, ty, data).
    ``stats`` (optional dict) accumulates {batches, tiles_recomputed,
    tiles_total} so tests can pin the O(9·updates) bound."""
    t = int(tile_size)
    state = {
        "tiles": base_tiles.select("tx", "ty", "data")
        .localCheckpoint(eager=True),
    }
    state["out"] = focal_op(state["tiles"], op=op, tile_size=t) \
        .localCheckpoint(eager=True)
    if stats is not None:
        stats.setdefault("batches", 0)
        stats.setdefault("tiles_recomputed", 0)
        stats.setdefault("tiles_total", 0)

    def publish() -> None:
        state["out"].createOrReplaceGlobalTempView(name)

    publish()

    def handle(bdf: DataFrame, batch_id: int) -> None:
        ups, tiles = upsert_latest(
            state["tiles"], bdf, ["tx", "ty"],
            [F.col("tx").cast("long").alias("tx"),
             F.col("ty").cast("long").alias("ty"), F.col("data")])
        state["tiles"] = tiles
        # dirty = updated ∪ 8-neighbors (intersected with live tiles);
        # donors = dirty ∪ THEIR neighbors — the strips dirty renders need
        dirty = _neighbors(ups).join(
            tiles.select("tx", "ty"), ["tx", "ty"], "left_semi")
        donors = _neighbors(dirty)
        recomputed = focal_op(
            tiles.join(donors, ["tx", "ty"], "left_semi"),
            op=op, tile_size=t,
        ).join(dirty, ["tx", "ty"], "left_semi")
        state["out"] = (
            state["out"].join(dirty, ["tx", "ty"], "left_anti")
            .unionByName(recomputed)
            .localCheckpoint(eager=True)
        )
        if stats is not None:
            stats["batches"] += 1
            stats["tiles_recomputed"] += dirty.count()
            stats["tiles_total"] += tiles.count()
        publish()

    run_available_now(updates.writeStream.foreachBatch(handle))

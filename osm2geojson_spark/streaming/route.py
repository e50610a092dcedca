"""Streaming twin for the routing family: maintain SSSP distances (and
the isochrone/catchment products derived from them) over a STREAM of
edge updates, completing the batch==stream story the event/tile/MVT
families already have (``streaming/events.py``).

Semantics per micro-batch of ``(src, dst, w)`` upserts:

* weight DECREASE or brand-new edge → incremental
  ``spatial/route.sssp_update``: the label-correcting loop restarts
  from the cached converged ``dist`` seeded only with the changed
  edges' relaxations, so a batch that touches one suburb re-settles
  that suburb, not the continent.
* weight INCREASE → label-correcting cannot revoke distances, so the
  batch falls back to a cold ``shortest_paths`` run over the merged
  edge table (detected per batch, counted in the published stats).

State (current edge table + converged dist) lives as eagerly
localCheckpointed DataFrames across batches — bounded by |E| and |V|,
never driver-side rows. Each batch publishes global temp views:
``<name>`` = (node_id, dist), ``<name>_bands`` = isochrone rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.spatial.route import (
    catchment_assign,
    isochrone_bands,
    matrix_update,
    shortest_paths,
    sssp_update,
    travel_time_matrix,
)
from osm2geojson_spark.streaming.events import run_available_now, upsert_latest

__all__ = [
    "EDGE_UPDATES_SCHEMA",
    "sssp_stream_to_memory",
    "catchment_stream_to_memory",
]

# edge upserts as file drops (``events.file_stream``); ``seq`` orders the
# upserts of one (src, dst) within a batch, last write wins
EDGE_UPDATES_SCHEMA = "src long, dst long, w long, seq long"


def _run_route_stream(
    updates: DataFrame,
    base_edges: DataFrame,
    cold_fn,
    incr_fn,
    publish_fn,
    stats: dict | None,
) -> None:
    """Shared micro-batch driver: dedup the batch's upserts (last seq
    wins), merge into the cached edge table, detect weight increases
    (→ ``cold_fn(new_edges)``) vs decreases/additions
    (→ ``incr_fn(new_edges, dist, improving)``), publish."""
    state = {
        "edges": base_edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("w").cast("long").alias("w"),
        ).localCheckpoint(eager=True),
        "dist": None,
        "batches": 0,
        "incremental": 0,
        "cold": 0,
    }
    # routing entry points return a projection over their final
    # checkpoint, so the state needs no checkpoint of its own
    state["dist"] = cold_fn(state["edges"])
    publish_fn(state["dist"])

    def handle(bdf: DataFrame, batch_id: int) -> None:
        old = state["edges"]
        ups, new_edges = upsert_latest(
            old, bdf, ["src", "dst"],
            [F.col(c).cast("long").alias(c) for c in ("src", "dst", "w")])
        if ups.where(F.col("w") < 0).limit(1).count() > 0:
            raise ValueError("edge updates require non-negative weights")
        keyed_old = old.select(
            F.col("src").alias("o_src"), F.col("dst").alias("o_dst"),
            F.col("w").alias("o_w"))
        joined = ups.join(
            keyed_old,
            (F.col("src") == F.col("o_src"))
            & (F.col("dst") == F.col("o_dst")),
            "left",
        )
        worsened = joined.where(
            F.col("o_w").isNotNull() & (F.col("w") > F.col("o_w"))
        ).limit(1).count()
        state["edges"] = new_edges
        state["batches"] += 1
        if worsened:
            state["cold"] += 1
            state["dist"] = cold_fn(new_edges)
        else:
            state["incremental"] += 1
            improving = joined.where(
                F.col("o_w").isNull() | (F.col("w") < F.col("o_w"))
            ).select("src", "dst", "w")
            state["dist"] = incr_fn(new_edges, state["dist"], improving)
        publish_fn(state["dist"])

    run_available_now(updates.writeStream.foreachBatch(handle))
    if stats is not None:
        stats.update(batches=state["batches"],
                     incremental=state["incremental"], cold=state["cold"])


def sssp_stream_to_memory(
    updates: DataFrame,
    base_edges: DataFrame,
    source: int,
    name: str,
    band_width: int = 10,
    max_iters: int = 64,
    stats: dict | None = None,
) -> None:
    """foreachBatch sink: apply each micro-batch of edge upserts to the
    cached edge table, maintain the converged dist incrementally where
    the contract allows, publish ``<name>`` / ``<name>_bands`` views.
    availableNow trigger — drains the file queue then stops (test and
    catch-up semantics; a continuous deployment drops the trigger)."""

    def cold(edges):
        return shortest_paths(edges, source, max_iters=max_iters)

    def incr(edges, dist, improving):
        return sssp_update(edges, dist, improving, max_iters=max_iters)

    def publish(d: DataFrame) -> None:
        d.createOrReplaceGlobalTempView(name)
        isochrone_bands(d, band_width).createOrReplaceGlobalTempView(
            f"{name}_bands")

    _run_route_stream(updates, base_edges, cold, incr, publish, stats)


def catchment_stream_to_memory(
    updates: DataFrame,
    base_edges: DataFrame,
    sources: list,
    name: str,
    max_iters: int = 64,
    stats: dict | None = None,
) -> None:
    """Multi-depot twin: maintains the full travel-time matrix over the
    edge-update stream (``matrix_update`` reseeds EVERY depot's
    distances in the same composite-keyed rounds) and publishes
    ``<name>_matrix`` plus the derived nearest-facility view
    ``<name>`` = catchment_assign(matrix) per batch."""

    def cold(edges):
        return travel_time_matrix(edges, sources, max_iters=max_iters)

    def incr(edges, matrix, improving):
        return matrix_update(edges, matrix, improving,
                             max_iters=max_iters)

    def publish(m: DataFrame) -> None:
        m.createOrReplaceGlobalTempView(f"{name}_matrix")
        catchment_assign(m).createOrReplaceGlobalTempView(name)

    _run_route_stream(updates, base_edges, cold, incr, publish, stats)

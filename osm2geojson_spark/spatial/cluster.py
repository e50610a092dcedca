"""Grid-density spatial clustering (DBSCAN-lite) — engine-new.

The reference has no clustering at all (SURVEY.md §2.4 stops at the
cell index, GRAFT G1); this is the standard grid approximation of
density clustering used at planetary ping scale: collapse points to
occupied Morton cells, keep cells holding >= ``min_pts`` points
("dense"), and merge dense cells that touch in the 8-neighborhood into
one cluster via connected components. Equivalent to DBSCAN with
eps == one cell diagonal and density measured per cell.

Scale shape (the reason this survives 100 TB of pings):

- points collapse to dense cells FIRST — one partial-aggregated
  groupBy whose output is bounded by the GRID (4^res), not the input;
- adjacency is an equi-join of the dense-cell table against its 8
  exploded offset images on exact (ix, iy) integers — never a theta
  join, never a distance comparison;
- transitive closure reuses the distributed min-label propagation from
  :func:`osm2geojson_spark.operators.dedup.dup_clusters` (one
  join+groupBy per round, O(component diameter) rounds, driver sees
  only a changed-count per round).

No antimeridian wrap: the grid is clamped equirectangular (same
contract as cells.cell_expr), so ix 0 and ix 2^res-1 are not adjacent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.functions import cells as C
from osm2geojson_spark.operators.dedup import dup_clusters
from osm2geojson_spark.session import persist

_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]


def grid_cluster(
    points: DataFrame,
    res: int = 6,
    min_pts: int = 3,
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_iters: int = 25,
) -> DataFrame:
    """Cluster points by grid density: returns one row per DENSE cell —
    ``(cell, n_pts, cluster_id)`` with ``cluster_id`` = the smallest
    Morton id in the cell's 8-connected dense component (isolated dense
    cells are their own singleton cluster). Join back on ``cell`` to
    label points; cells below ``min_pts`` are noise by omission."""
    ix = C.lon_ix(F.col(lon_col), res)
    iy = C.lat_iy(F.col(lat_col), res)
    dense = persist(
        points.groupBy(ix.alias("ix"), iy.alias("iy"))
        .agg(F.count("*").alias("n_pts"))
        .where(F.col("n_pts") >= min_pts)
        .withColumn("cell", C.cell_from_ixiy(F.col("ix"), F.col("iy")))
    )
    off = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in _OFFSETS
    ])
    probes = (
        dense.select("cell", "ix", "iy", F.explode(off).alias("o"))
        .select("cell",
                (F.col("ix") + F.col("o.dx")).alias("nx"),
                (F.col("iy") + F.col("o.dy")).alias("ny"))
    )
    targets = dense.select(
        F.col("ix").alias("nx"), F.col("iy").alias("ny"),
        F.col("cell").alias("ncell"))
    # each undirected adjacency once (cell < ncell); dup_clusters
    # symmetrizes internally
    pairs = (
        probes.join(targets, ["nx", "ny"])
        .where(F.col("cell") < F.col("ncell"))
        .select(F.col("cell").alias("id_a"), F.col("ncell").alias("id_b"))
    )
    labels = dup_clusters(pairs, max_iters=max_iters)
    out = (
        dense.join(labels, dense.cell == labels.id, "left")
        .select(
            "cell", "n_pts",
            F.coalesce(F.col("cluster_id"), F.col("cell"))
            .alias("cluster_id"))
    )
    return out


def dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int = 4,
    max_iters: int = 25,
) -> DataFrame:
    """EXACT planar DBSCAN over int64 coordinates — the grid above is
    the approximation; this is the real thing, kept 100 TB-shaped:

    - candidate pairs come from ONE equi-join of the point table
      against its 9 cell-offset images (cell = coord div eps, so any
      two points within eps share a 3x3 cell neighborhood) — never a
      theta join, never all-pairs;
    - the eps test is exact integer algebra (dx²+dy² <= eps²);
    - core points are those with >= ``min_pts`` neighbors INCLUDING
      themselves (the standard definition);
    - clusters are connected components of the core-core graph via
      :func:`dup_clusters` (distributed min-label propagation);
      isolated cores become singleton clusters;
    - border points (non-core with a core neighbor) attach to the
      SMALLEST adjacent core cluster id — a deterministic tie rule
      where textbook DBSCAN is scan-order-dependent;
    - everything else is noise (cluster_id -1).

    ``points`` needs int64 columns ``(id, x, y)`` with coordinates
    non-negative (div-as-floor). Returns ``(id, role, cluster_id)``
    with role in {'core','border','noise'}.
    """
    e = int(eps)
    pts = points.select(
        "id", "x", "y",
        F.expr(f"x div {e}").alias("cx"),
        F.expr(f"y div {e}").alias("cy"))
    off = F.array([
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    img = (pts.select(
        F.col("id").alias("id_b"), F.col("x").alias("xb"),
        F.col("y").alias("yb"), "cx", "cy", F.explode(off).alias("o"))
        .select("id_b", "xb", "yb",
                (F.col("cx") + F.col("o.dx")).alias("cx"),
                (F.col("cy") + F.col("o.dy")).alias("cy")))
    d2 = ((F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb"))
          + (F.col("y") - F.col("yb")) * (F.col("y") - F.col("yb")))
    pairs = persist(pts.join(img, ["cx", "cy"])
                    .where((F.col("id") != F.col("id_b"))
                           & (d2 <= F.lit(e * e)))
                    .select(F.col("id").alias("id_a"), "id_b"))
    counts = pairs.groupBy("id_a").agg(F.count(F.lit(1)).alias("nn"))
    core = persist(counts.where((F.col("nn") + 1) >= min_pts)
                   .select(F.col("id_a").alias("id")))
    core_b = core.select(F.col("id").alias("id_b"))
    core_edges = (pairs
                  .join(core, pairs.id_a == core.id, "left_semi")
                  .join(core_b, "id_b", "left_semi")
                  .where(F.col("id_a") < F.col("id_b")))
    labels = dup_clusters(core_edges, max_iters=max_iters)
    core_lab = persist(core.join(labels, "id", "left")
                       .select("id",
                               F.coalesce("cluster_id", "id").alias("cluster_id")))
    # border: non-core endpoint adjacent to >= 1 core; smallest cluster
    border = (pairs
              .join(core, pairs.id_a == core.id, "left_anti")
              .join(core_lab.select(F.col("id").alias("id_b"),
                                    "cluster_id"), "id_b")
              .groupBy("id_a")
              .agg(F.min("cluster_id").alias("cluster_id"))
              .select(F.col("id_a").alias("id"), "cluster_id"))
    assigned = (core_lab.withColumn("role", F.lit("core"))
                .unionByName(border.withColumn("role", F.lit("border"))))
    out = (points.select("id")
           .join(assigned, "id", "left")
           .select("id",
                   F.coalesce("role", F.lit("noise")).alias("role"),
                   F.coalesce("cluster_id", F.lit(-1).cast("long"))
                   .alias("cluster_id")))
    return out

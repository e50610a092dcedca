"""G2++ — distributed polygon↔polygon overlap join (spatial self/cross join).

The missing sibling of :mod:`pip` (point-in-polygon) and
:mod:`tiles.distance_join` (point-point range): all (left, right) polygon
pairs whose geometries overlap.  Neither side is assumed small — this is
the admin-boundary × land-use style join where BOTH sides can be millions
of polygons, so no broadcast: a distributed cell equi-join generates
candidates and an exact predicate refines them.

Plan shape (scale-first):

1. per-polygon bbox from the ring array (array_min/max over a transform —
   O(vertices) per polygon, no shuffle, and polygon tables are orders of
   magnitude smaller than point tables);
2. each bbox is covered by its Morton grid-cell range at ``res``; cells
   explode and the two sides **equi-join on the cell id** — never a
   cartesian.  Resolution trades fan-out (fine = more cells per polygon)
   against candidate precision (coarse = more false candidates);
3. **zero-dedup pair emission**: a pair sharing k cover cells would be
   emitted k times; instead of a `dropDuplicates` shuffle, the join keeps
   a pair only at ONE canonical shared cell — the (max ix0, max iy0)
   corner of the bbox intersection, which every overlapping cover shares
   by construction.  One join, one output row per pair, no second
   shuffle.
4. exact refinement:
   - ``mode="bbox"``: interval-overlap predicate on the original double
     bounds (exact in any engine — plain comparisons);
   - ``mode="exact"``: true polygon intersection — any-edges-cross OR
     one-contains-the-other — vectorized numpy over Arrow batches of
     candidate pairs (both rings travel only for candidates, never in
     the fan-out join).

At 100 TB: fan-out is bounded by cells-per-bbox; hot cells (dense urban
stacks) can be salted upstream by splitting oversized bboxes before this
join; AQE skew-join handles residual imbalance.  The reference has no
polygon-polygon join (GRAFT; SURVEY §2.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2geojson_spark.functions import cells as C


def _bbox_cols(df: DataFrame, prefix: str) -> DataFrame:
    lons = F.transform(F.col("ring"), lambda p: p["lon"])
    lats = F.transform(F.col("ring"), lambda p: p["lat"])
    return (df
            .withColumn(f"{prefix}minx", F.array_min(lons))
            .withColumn(f"{prefix}maxx", F.array_max(lons))
            .withColumn(f"{prefix}miny", F.array_min(lats))
            .withColumn(f"{prefix}maxy", F.array_max(lats)))


def _cover(df: DataFrame, prefix: str, res: int) -> DataFrame:
    """Explode the bbox's cell range, carrying the range corners."""
    n = 1 << res
    ix0 = C.lon_ix(F.col(f"{prefix}minx"), res)
    ix1 = C.lon_ix(F.col(f"{prefix}maxx"), res)
    iy0 = C.lat_iy(F.col(f"{prefix}miny"), res)
    iy1 = C.lat_iy(F.col(f"{prefix}maxy"), res)
    cells = F.flatten(F.transform(
        F.sequence(ix0, ix1),
        lambda x: F.transform(F.sequence(iy0, iy1),
                              lambda y: F.struct(x.alias("ix"), y.alias("iy")))))
    return (df
            .withColumn(f"{prefix}ix0", ix0).withColumn(f"{prefix}iy0", iy0)
            .withColumn("_c", F.explode(cells))
            .withColumn("cell", C.cell_from_ixiy(F.col("_c.ix"), F.col("_c.iy")))
            .withColumn(f"{prefix}_ix", F.col("_c.ix"))
            .withColumn(f"{prefix}_iy", F.col("_c.iy"))
            .drop("_c"))


def polygon_overlap_join(
    left: DataFrame, right: DataFrame, res: int = 6,
    left_id: str = "l_id", right_id: str = "r_id",
    mode: str = "bbox",
) -> DataFrame:
    """All (left_id, right_id) pairs whose polygons overlap.

    ``left``/``right``: (id, ring array<struct<lon:double,lat:double>>).
    ``mode="bbox"`` → interval test on bounds; ``mode="exact"`` → true
    polygon intersection (edges cross or containment, even-odd).
    """
    if mode not in ("bbox", "exact"):
        raise ValueError(f"mode must be 'bbox' or 'exact', got {mode!r}")
    lt = _cover(_bbox_cols(left.select(F.col(left_id), "ring"), "l"), "l", res)
    rt = _cover(_bbox_cols(right.select(F.col(right_id), "ring"), "r"), "r", res)
    if mode == "bbox":
        lt = lt.drop("ring")
        rt = rt.drop("ring")
    else:
        lt = lt.withColumnRenamed("ring", "l_ring")
        rt = rt.withColumnRenamed("ring", "r_ring")

    joined = lt.join(rt, "cell")
    # canonical-cell dedup: keep the pair only at the (max ix0, max iy0)
    # corner of the two ranges — a cell both covers contain exactly once.
    canonical = ((F.col("l_ix") == F.greatest("lix0", "rix0"))
                 & (F.col("l_iy") == F.greatest("liy0", "riy0")))
    bbox_hit = ((F.col("lminx") <= F.col("rmaxx"))
                & (F.col("rminx") <= F.col("lmaxx"))
                & (F.col("lminy") <= F.col("rmaxy"))
                & (F.col("rminy") <= F.col("lmaxy")))
    cand = joined.filter(canonical & bbox_hit)
    if mode == "bbox":
        return cand.select(left_id, right_id, "lminx", "lmaxx", "lminy",
                           "lmaxy", "rminx", "rmaxx", "rminy", "rmaxy")
    pairs = cand.select(left_id, right_id, "l_ring", "r_ring")
    out_schema = T.StructType([
        pairs.schema[left_id], pairs.schema[right_id]])

    def refine(batches):
        for pdf in batches:
            keep = [
                k for k in range(len(pdf))
                if _polys_intersect(
                    np.array([[p["lon"], p["lat"]] for p in pdf["l_ring"].iloc[k]]),
                    np.array([[p["lon"], p["lat"]] for p in pdf["r_ring"].iloc[k]]))
            ]
            yield pdf.iloc[keep][[left_id, right_id]]

    return pairs.mapInPandas(refine, out_schema)


# ------------------------------------------------------------ exact predicate
def _close(r: np.ndarray) -> np.ndarray:
    if len(r) and (r[0] != r[-1]).any():
        return np.vstack([r, r[:1]])
    return r


def _segments_cross(a: np.ndarray, b: np.ndarray) -> bool:
    """Any proper/improper intersection between edge sets (vectorized
    orientation tests over the full (Ea, Eb) cross of ONE candidate
    pair — bounded by vertices², never by table size)."""
    p1, p2 = a[:-1], a[1:]
    q1, q2 = b[:-1], b[1:]
    P1 = p1[:, None, :]
    P2 = p2[:, None, :]
    Q1 = q1[None, :, :]
    Q2 = q2[None, :, :]

    def orient(o, x, y):
        return ((x[..., 0] - o[..., 0]) * (y[..., 1] - o[..., 1])
                - (x[..., 1] - o[..., 1]) * (y[..., 0] - o[..., 0]))

    d1 = orient(P1, P2, Q1)
    d2 = orient(P1, P2, Q2)
    d3 = orient(Q1, Q2, P1)
    d4 = orient(Q1, Q2, P2)
    proper = ((np.sign(d1) * np.sign(d2) < 0)
              & (np.sign(d3) * np.sign(d4) < 0))
    if proper.any():
        return True

    def on_seg(o, e, x):
        collin = orient(o, e, x) == 0
        inside = ((np.minimum(o[..., 0], e[..., 0]) <= x[..., 0])
                  & (x[..., 0] <= np.maximum(o[..., 0], e[..., 0]))
                  & (np.minimum(o[..., 1], e[..., 1]) <= x[..., 1])
                  & (x[..., 1] <= np.maximum(o[..., 1], e[..., 1])))
        return collin & inside

    touch = (on_seg(P1, P2, Q1) | on_seg(P1, P2, Q2)
             | on_seg(Q1, Q2, P1) | on_seg(Q1, Q2, P2))
    return bool(touch.any())


def _point_in(poly: np.ndarray, pt: np.ndarray) -> bool:
    x1, y1 = poly[:-1, 0], poly[:-1, 1]
    x2, y2 = poly[1:, 0], poly[1:, 1]
    cross = (y1 > pt[1]) != (y2 > pt[1])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (pt[1] - y1) * (x2 - x1) / (y2 - y1)
    return bool(np.count_nonzero(cross & (pt[0] < xint)) % 2)


def _polys_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    """True iff the two simple polygons share any point."""
    a, b = _close(np.asarray(a, np.float64)), _close(np.asarray(b, np.float64))
    if len(a) < 4 or len(b) < 4:
        return False
    if _segments_cross(a, b):
        return True
    return _point_in(b, a[0]) or _point_in(a, b[0])


def rect_areal_interpolate(src: DataFrame, tgt: DataFrame,
                           res: int = 4096) -> DataFrame:
    """Areal-weighted interpolation between RECTANGULAR zone layers —
    the change-of-support operation (reaggregate census values onto a
    different zoning): each target zone receives
    ``Σ_src val · inter_area / src_area`` over the sources it
    overlaps. Returns ``(tid, n_src, wsum_area, est)``.

    Exactness contract: integer rectangle corners make every
    intersection area an exact int64 (min/max algebra — no clipping
    kernel, no epsilon); only the final reallocation is a double, and
    it is an ORDERED fold over the sid-sorted contribution list
    (``F.aggregate`` == DuckDB ``list_reduce`` — per-target source
    lists are bounded by overlap fan-in). Scale shape: cell-cover
    candidate equi-join (the segjoin discipline — a shared ``res``
    cell is a provable superset of bbox overlap), pair dedupe, one
    target-keyed aggregate. Degenerate or inverted rects (``x1 <= x0``
    or ``y1 <= y0``) in either layer are the caller's bug and excluded:
    an inverted pair's negative extents would multiply to a positive
    area."""
    r = int(res)

    def cover(df, p):
        return df.select(
            "*",
            F.explode(F.expr(f"sequence({p}x0 div {r},"
                             f" ({p}x1 - 1) div {r})")).alias("cx")) \
            .select("*", F.explode(
                F.expr(f"sequence({p}y0 div {r},"
                       f" ({p}y1 - 1) div {r})")).alias("cy"))

    s = cover(src.select(F.col("sid"), F.col("x0").alias("sx0"),
                         F.col("y0").alias("sy0"),
                         F.col("x1").alias("sx1"),
                         F.col("y1").alias("sy1"), F.col("val"))
              .where("(sx1 > sx0) AND (sy1 > sy0)"), "s")
    t = cover(tgt.select(F.col("tid"), F.col("x0").alias("tx0"),
                         F.col("y0").alias("ty0"),
                         F.col("x1").alias("tx1"),
                         F.col("y1").alias("ty1"))
              .where("(tx1 > tx0) AND (ty1 > ty0)"), "t")
    pairs = (s.join(t, ["cx", "cy"])
             .where("(sx0 < tx1) AND (tx0 < sx1)"
                    " AND (sy0 < ty1) AND (ty0 < sy1)")
             .dropDuplicates(["sid", "tid"])
             .select(
                 "sid", "tid", "val",
                 F.expr("(least(sx1, tx1) - greatest(sx0, tx0))"
                        " * (least(sy1, ty1) - greatest(sy0, ty0))")
                 .alias("inter"),
                 F.expr("(sx1 - sx0) * (sy1 - sy0)").alias("sarea")))
    return (pairs.groupBy("tid")
            .agg(F.count("*").alias("n_src"),
                 F.sum("inter").alias("wsum_area"),
                 F.expr(
                     "aggregate(sort_array(collect_list("
                     "  struct(sid, val, inter, sarea))),"
                     " CAST(0.0 AS DOUBLE), (acc, x) -> acc"
                     " + (CAST(x.val * x.inter AS DOUBLE)"
                     " / CAST(x.sarea AS DOUBLE)))").alias("est")))

"""Distributed integral image (summed-area table) over tiled rasters.

The SAT is THE image-pipeline primitive behind O(1) box filters,
adaptive thresholding, Haar-like features and variance maps — but the
textbook construction is a full-raster double scan, which does not
exist at continental scale. This module computes it with the classic
**block decomposition** (the 2-D analog of the parallel prefix sum):

    sat(x, y)   for pixel (c, r) of tile (tx, ty)
      = L[r, c]                         local tile SAT      (map-only)
      + A[r]   = Σ_{tx'<tx} RP(tx',ty)[r]   full rows of tiles LEFT
      + B[c]   = Σ_{ty'<ty} CP(tx,ty')[c]   full cols of tiles ABOVE
      + C      = Σ_{tx'<tx, ty'<ty} tot     tiles strictly UP-LEFT

where RP = per-tile cumulative row sums (T values), CP = cumulative
column sums, tot = tile total.  A and B are ordinary exclusive window
sums over EXPLODED (tile, line) rows — tiles×T rows each, partitioned
by (ty, r) / (tx, c), i.e. per raster line of tiles, never the full
raster; C is a 2-D exclusive prefix over the tiny tile-totals grid
(two nested exclusive windows).  The final combine is PURE CODEGEN:
``transform(L, (v,i) -> v + A[i div T] + B[i % T] + C)`` — no Python
in the assembly pass, and the only shuffles are the two line-window
exchanges + the (tx,ty) join, all bounded by tiles×T rows regardless
of raster size.

``box_filter_tiles`` then evaluates any radius-k box sum in O(1) per
pixel from 4 SAT corners, fetched via a (k+1)-wide halo exchange —
the far corner is the EXCLUSIVE S(r-k-1, c-k-1), k+1 pixels out (the
focal_op pattern generalized to margin k+1, with SAT-correct borders:
ZERO fill above/left of the raster — S(-1, y) = 0 — and EDGE
REPLICATION right/below — S(W-1+j, y) = S(W-1, y), which IS the
window clamp).  Box semantics are intersection-with-raster (zeros
outside), matching the no-join guarded closed-form oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist

__all__ = ["integral_image_tiles", "box_filter_tiles", "box_stats_tiles"]


def integral_image_tiles(tiles: DataFrame, tile_size: int) -> DataFrame:
    """``(tx, ty, data array<long>)`` row-major T² value tiles → same
    schema, ``data`` = the INCLUSIVE global summed-area table sliced
    per tile. Assumes a full rectangular tile grid."""
    t = int(tile_size)

    import pandas as pd

    def local(batches):
        for pdf in batches:
            out = []
            for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                a = np.asarray(data, np.int64).reshape(t, t)
                sat = a.cumsum(axis=0).cumsum(axis=1)
                rp = a.sum(axis=1).cumsum()      # RP[r]: rows 0..r total
                cp = a.sum(axis=0).cumsum()      # CP[c]: cols 0..c total
                out.append((int(tx), int(ty), sat.ravel().tolist(),
                            rp.tolist(), cp.tolist(), int(a.sum())))
            yield pd.DataFrame(out, columns=[
                "tx", "ty", "lsat", "rp", "cp", "tot"])

    loc = persist(tiles.mapInPandas(
        local,
        schema=("tx long, ty long, lsat array<long>, rp array<long>, "
                "cp array<long>, tot long"),
    ))

    # A: per pixel row r, exclusive running sum of RP[r] across tx.
    # Partition key (ty, r) = one raster line of tiles — uniform,
    # tiles_x entries per key, tiles*T rows total.
    a_rows = loc.select("tx", "ty", F.posexplode("rp").alias("r", "v"))
    wa = (Window.partitionBy("ty", "r").orderBy("tx")
          .rowsBetween(Window.unboundedPreceding, -1))
    a_vec = (
        a_rows.withColumn("av", F.coalesce(F.sum("v").over(wa), F.lit(0)))
        .groupBy("tx", "ty")
        .agg(F.transform(
            F.sort_array(F.collect_list(F.struct("r", "av"))),
            lambda s: s["av"]).alias("a")))

    b_rows = loc.select("tx", "ty", F.posexplode("cp").alias("c", "v"))
    wb = (Window.partitionBy("tx", "c").orderBy("ty")
          .rowsBetween(Window.unboundedPreceding, -1))
    b_vec = (
        b_rows.withColumn("bv", F.coalesce(F.sum("v").over(wb), F.lit(0)))
        .groupBy("tx", "ty")
        .agg(F.transform(
            F.sort_array(F.collect_list(F.struct("c", "bv"))),
            lambda s: s["bv"]).alias("b")))

    # C: 2-D exclusive prefix over the tile-totals grid — exclusive
    # along tx within each ty, then exclusive along ty within each tx.
    w1 = (Window.partitionBy("ty").orderBy("tx")
          .rowsBetween(Window.unboundedPreceding, -1))
    w2 = (Window.partitionBy("tx").orderBy("ty")
          .rowsBetween(Window.unboundedPreceding, -1))
    c_grid = (
        loc.select("tx", "ty", "tot")
        .withColumn("s1", F.coalesce(F.sum("tot").over(w1), F.lit(0)))
        .withColumn("c", F.coalesce(F.sum("s1").over(w2), F.lit(0)))
        .select("tx", "ty", "c"))

    combined = (
        loc.select("tx", "ty", "lsat")
        .join(a_vec, ["tx", "ty"])
        .join(b_vec, ["tx", "ty"])
        .join(c_grid, ["tx", "ty"])
        .select(
            "tx", "ty",
            F.transform(
                "lsat",
                lambda v, i: (v
                              + F.element_at("a", (i / t).cast("int") + 1)
                              + F.element_at("b", (i % t).cast("int") + 1)
                              + F.col("c"))).alias("data"))
    )
    return combined


def box_filter_tiles(sat_tiles: DataFrame, tile_size: int, k: int,
                     grid_w: int, grid_h: int) -> DataFrame:
    """Radius-``k`` box SUM per pixel from SAT tiles (O(1)/pixel, the
    whole point of the SAT): ``(tx, ty, data)`` → same schema. The
    far EXCLUSIVE corner S(r-k-1, c-k-1) lives m = k+1 pixels outside
    the tile, so each tile ships m-wide edge strips + m² corners to
    its 8 neighbors — ONE uniform shuffle (the focal_op halo pattern
    at margin m; needs k < tile_size). Borders: zero-fill above/left
    of the raster (S(-1,·)=0, the SAT's exclusive margin), edge
    replication right/below (== the window clamp). Box semantics =
    intersection with the raster (zeros outside)."""
    t, k = int(tile_size), int(k)
    if not 0 < k < t:
        raise ValueError("box_filter_tiles requires 0 < k < tile_size")
    m = k + 1
    gw, gh = int(grid_w), int(grid_h)

    import pandas as pd

    def emit(batches):
        for pdf in batches:
            out = []
            for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                a = np.asarray(data, np.int64).reshape(t, t)
                tx, ty = int(tx), int(ty)
                out.append((tx, ty, 4, list(data)))
                for sdy in (-1, 0, 1):
                    for sdx in (-1, 0, 1):
                        if sdx == 0 and sdy == 0:
                            continue
                        rx, ry = tx - sdx, ty - sdy
                        if not (0 <= rx < gw and 0 <= ry < gh):
                            continue
                        ys = slice(None) if sdy == 0 else (
                            slice(0, m) if sdy == 1 else slice(t - m, t))
                        xs = slice(None) if sdx == 0 else (
                            slice(0, m) if sdx == 1 else slice(t - m, t))
                        out.append((rx, ry, (sdy + 1) * 3 + (sdx + 1),
                                    a[ys, xs].ravel().tolist()))
            yield pd.DataFrame(
                out, columns=["tx", "ty", "part", "payload"])

    halo = sat_tiles.mapInPandas(
        emit, schema="tx long, ty long, part int, payload array<long>")

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (tx, ty) = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        parts = {int(p): np.asarray(v, np.int64)
                 for p, v in zip(pdf["part"], pdf["payload"])}
        # padded (t + 2m)²; pixel (c, r) sits at (r + m, c + m)
        p = np.zeros((t + 2 * m, t + 2 * m), dtype=np.int64)
        p[m:-m, m:-m] = parts[4].reshape(t, t)
        shapes = {0: (m, m), 1: (m, t), 2: (m, m), 3: (t, m),
                  5: (t, m), 6: (m, m), 7: (m, t), 8: (m, m)}
        sl = {0: (slice(0, m), slice(0, m)),
              1: (slice(0, m), slice(m, -m)),
              2: (slice(0, m), slice(-m, None)),
              3: (slice(m, -m), slice(0, m)),
              5: (slice(m, -m), slice(-m, None)),
              6: (slice(-m, None), slice(0, m)),
              7: (slice(-m, None), slice(m, -m)),
              8: (slice(-m, None), slice(-m, None))}
        for code, (ys, xs) in sl.items():
            if code in parts:
                p[ys, xs] = parts[code].reshape(shapes[code])
        # raster borders: replicate right/below FIRST (corners read
        # the freshly filled edges), zero above/left LAST (col<0 or
        # row<0 ⇒ S = 0 wins over any replication).
        if ty == gh - 1 and 7 not in parts:
            p[-m:, m:-m] = p[-m - 1, m:-m]
        if tx == gw - 1 and 5 not in parts:
            p[m:-m, -m:] = p[m:-m, [-m - 1]]
        if 8 not in parts and (tx == gw - 1 or ty == gh - 1):
            p[-m:, -m:] = p[-m - 1, -m - 1] if (
                tx == gw - 1 and ty == gh - 1) else (
                p[-m:, [-m - 1]] if tx == gw - 1 else p[[-m - 1], -m:])
        if 2 not in parts and tx == gw - 1 and ty > 0:
            p[:m, -m:] = p[:m, [-m - 1]]
        if 6 not in parts and ty == gh - 1 and tx > 0:
            p[-m:, :m] = p[[-m - 1], :m]
        if ty == 0:
            p[:m, :] = 0
        if tx == 0:
            p[:, :m] = 0
        # pixel (c, r) at p[r + m, c + m]:
        #   box = S(r+k, c+k) − S(r−m, c+k) − S(r+k, c−m) + S(r−m, c−m)
        hi = slice(m + k, m + k + t)   # offset +k
        lo = slice(0, t)               # offset −m = −k−1
        box = p[hi, hi] - p[lo, hi] - p[hi, lo] + p[lo, lo]
        return pd.DataFrame(
            [(tx, ty, box.ravel().tolist())], columns=["tx", "ty", "data"])

    return (halo.groupBy("tx", "ty")
            .applyInPandas(assemble, schema="tx long, ty long, "
                                            "data array<long>"))


def box_stats_tiles(tiles: DataFrame, tile_size: int, k: int,
                    grid_w: int, grid_h: int) -> DataFrame:
    """Local first/second moments per pixel — the adaptive-threshold /
    variance-map primitive (Sauvola, Haar, NCC normalization all start
    here): ``(tx, ty, data)`` value tiles → ``(tx, ty, n array<long>,
    s1 array<long>, s2 array<long>)`` where over the radius-``k``
    window ∩ raster, ``n`` = pixel count (pure codegen closed form —
    no data touched), ``s1`` = Σv, ``s2`` = Σv². Exact integer
    variance numerator = ``n·s2 − s1²`` downstream; no division, no
    floats anywhere. Cost: the squared raster is a codegen transform,
    then TWO independent SAT+box pipelines joined on (tx, ty) — all
    shuffles remain bounded by tiles×T rows."""
    t, k = int(tile_size), int(k)
    gw, gh = int(grid_w), int(grid_h)
    src = persist(tiles)
    sq = src.select(
        "tx", "ty", F.transform("data", lambda v: v * v).alias("data"))
    s1 = (box_filter_tiles(integral_image_tiles(src, t), t, k, gw, gh)
          .withColumnRenamed("data", "s1"))
    s2 = (box_filter_tiles(integral_image_tiles(sq, t), t, k, gw, gh)
          .withColumnRenamed("data", "s2"))
    w_px, h_px = gw * t, gh * t
    # n(x, y) = (min(x+k, W-1) − max(x−k, 0) + 1) · (same in y),
    # evaluated per array slot i with x = tx·t + i mod t, y = ty·t + i div t
    joined = s1.join(s2, ["tx", "ty"])
    x = f"(tx * {t} + (i % {t}))"
    y = f"(ty * {t} + (i div {t}))"
    n_expr = (f"transform(s1, (v, i) -> "
              f"(least({x} + {k}, {w_px - 1}) - greatest({x} - {k}, 0) + 1)"
              f" * (least({y} + {k}, {h_px - 1}) - greatest({y} - {k}, 0)"
              f" + 1))")
    return joined.select(
        "tx", "ty", F.expr(n_expr).alias("n"), "s1", "s2")

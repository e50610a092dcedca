"""Spatial autocorrelation (global Moran's I) over tiled rasters.

The hotspot-analysis statistic GIS suites ship next to zonal stats:
``I = (N/W) · Σᵢⱼ wᵢⱼ(xᵢ−x̄)(xⱼ−x̄) / Σᵢ(xᵢ−x̄)²`` with rook (4-)
adjacency, computed per ZONE (a block of tiles) so one job scores many
regions. Reference parity: the reference engine has no raster stats at
all (osm2geojson is vector-only); this extends the repo's raster
family (focal/zonal/hydrology) with the classic exploratory statistic.

Exactness: the mean-centered form is irrational, so everything is
rewritten over INTEGER power sums. With dᵢ = N·xᵢ − S (S = Σx):

  Σ_directed dᵢdⱼ = N²·2·E_xy − 2·N·S·E_dx + S²·W
  Σ dᵢ²            = N·(N·Q − S²)

where E_xy = Σ_undirected-edges xᵢxⱼ, E_dx = Σᵢ degᵢ·xᵢ, Q = Σx²,
W = Σ degᵢ — five plain integer aggregates. The N² scale cancels in
the ratio, so ``moran_ppm = (10⁶·N·num) div (W·den)`` is exact
integer arithmetic end-to-end (both Spark decimal ``div`` and DuckDB
HUGEINT ``//`` truncate toward zero — verified).

Distribution: tiles compute interior products locally; each tile ships
ONLY its left column and top row to the west/north neighbor (half the
focal halo — rook products need one side of each undirected edge), and
only when the neighbor is in the same zone, so the shuffle is uniform
and ≤ 2T pixels per T² tile. Degrees are closed-form from the zone
rectangle (no exchange at all). Per-tile partials then shrink to one
row per tile before the tiny zone aggregation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist

__all__ = ["moran_zone_stats", "getis_gi_star"]

_CENTER, _FROM_EAST, _FROM_SOUTH = 0, 1, 2


def moran_zone_stats(tiles: DataFrame, tile_size: int,
                     zone_tiles: int) -> DataFrame:
    """Per-zone Moran's I components over ``(tx, ty, data array<long>)``
    tiles; zones are ``zone_tiles × zone_tiles`` tile blocks (adjacency
    does not cross zone borders). Returns one row per zone with the
    exact integer power sums, the DECIMAL(38,0) numerator/denominator,
    and ``moran_ppm``."""
    t = int(tile_size)
    zt = int(zone_tiles)

    import pandas as pd

    def emit(batches):
        for pdf in batches:
            out = []
            for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                tx, ty = int(tx), int(ty)
                a = np.asarray(data, np.int64).reshape(t, t)
                out.append((tx, ty, _CENTER, list(data)))
                if tx % zt != 0:       # west neighbor shares our zone
                    out.append((tx - 1, ty, _FROM_EAST,
                                a[:, 0].tolist()))
                if ty % zt != 0:       # north neighbor shares our zone
                    out.append((tx, ty - 1, _FROM_SOUTH,
                                a[0, :].tolist()))
            yield pd.DataFrame(
                out, columns=["tx", "ty", "part", "payload"])

    halo = tiles.mapInPandas(
        emit, schema="tx long, ty long, part int, payload array<long>")

    def partials(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts = {int(p): np.asarray(v, np.int64)
                 for p, v in zip(pdf["part"], pdf["payload"])}
        if _CENTER not in parts:       # strip for a tile outside grid
            return pd.DataFrame(columns=[
                "zx", "zy", "n", "s", "q", "e_xy", "e_dx", "w",
                "e_d2"]).astype("int64")
        tx, ty = int(key[0]), int(key[1])
        a = parts[_CENTER].reshape(t, t)
        e_xy = int((a[:, :-1] * a[:, 1:]).sum()) \
            + int((a[:-1, :] * a[1:, :]).sum())
        e_d2 = int(((a[:, :-1] - a[:, 1:]) ** 2).sum()) \
            + int(((a[:-1, :] - a[1:, :]) ** 2).sum())
        if _FROM_EAST in parts:        # right tile's left column
            e_xy += int((a[:, -1] * parts[_FROM_EAST]).sum())
            e_d2 += int(((a[:, -1] - parts[_FROM_EAST]) ** 2).sum())
        if _FROM_SOUTH in parts:       # below tile's top row
            e_xy += int((a[-1, :] * parts[_FROM_SOUTH]).sum())
            e_d2 += int(((a[-1, :] - parts[_FROM_SOUTH]) ** 2).sum())
        # closed-form in-zone rook degrees (zone is a rectangle)
        z = zt * t
        zgx = (tx % zt) * t + np.arange(t, dtype=np.int64)[None, :]
        zgy = (ty % zt) * t + np.arange(t, dtype=np.int64)[:, None]
        deg = (4 - (zgx == 0) - (zgx == z - 1)
               - (zgy == 0) - (zgy == z - 1)).astype(np.int64)
        return pd.DataFrame([(
            tx // zt, ty // zt, a.size, int(a.sum()),
            int((a * a).sum()), e_xy, int((deg * a).sum()),
            int(deg.sum()), e_d2)],
            columns=["zx", "zy", "n", "s", "q", "e_xy", "e_dx", "w",
                     "e_d2"])

    per_tile = halo.groupBy("tx", "ty").applyInPandas(
        partials, schema=("zx long, zy long, n long, s long, q long, "
                          "e_xy long, e_dx long, w long, e_d2 long"))

    agg = per_tile.groupBy("zx", "zy").agg(
        *[F.sum(c).alias(c)
          for c in ("n", "s", "q", "e_xy", "e_dx", "w", "e_d2")])

    d = "CAST({} AS DECIMAL(38,0))"
    num = (f"({d.format('n')} * n * 2 * e_xy"
           f" - {d.format('2')} * n * s * e_dx"
           f" + {d.format('s')} * s * w)")
    den = f"({d.format('n')} * (n * q - {d.format('s')} * s))"
    return agg.select(
        F.col("zx").alias("zone_x"), F.col("zy").alias("zone_y"),
        "n", "s", "q", "e_xy", "e_dx", "w", "e_d2",
        F.expr(num).alias("num"), F.expr(den).alias("den"),
        F.expr(f"CAST(({d.format('1000000')} * n * {num})"
               f" div (w * {den}) AS BIGINT)").alias("moran_ppm"),
        # Geary's C = (N−1)·N²·e_d2 / (W·den): the edge-difference twin
        # statistic, exact for free from the same halo pass
        F.expr(f"CAST(({d.format('1000000')} * (n - 1) * n * n * e_d2)"
               f" div (w * {den}) AS BIGINT)").alias("geary_ppm"),
    )


def getis_gi_star(tiles: DataFrame, tile_size: int) -> DataFrame:
    """Getis–Ord Gi* local hotspot statistic per pixel over
    ``(tx, ty, data array<long>)`` tiles → ``(x, y, wx, a, z)``.

    Binary 3×3 weights INCLUDING self (the * variant); boundary
    semantics are the focal family's GDAL-style edge replication, so
    every pixel has exactly 9 (clamped) samples and the weight sum is
    the constant 9 — the property that keeps both the Spark plan (one
    halo-exchange focal pass) and the DuckDB oracle (9 clamped
    closed-form terms, no join) exact.

    Exact integer core: ``wx = Σ_{3×3} x_j`` (the focal sum) and
    ``a = n·wx − 9·s`` (the n-scaled mean-centered numerator); with
    ``b = n·q − s²`` and the constant ``c = 9·n − 81``,

        z = a / sqrt(b·c/(n−1))

    is the classic Gi* z-score — ONE double expression over exact
    int64 inputs (identical IEEE ops in any engine; b, a stay below
    2⁵³ for rasters up to ~10⁹ px of 16-bit values, documented bound).
    Scale shape: the focal halo shuffle + a one-row broadcast of the
    global power sums; nothing else."""
    from osm2geojson_spark.spatial.focal import focal_op

    t = int(tile_size)
    tiles = persist(tiles)
    acc = "CAST(0 AS BIGINT)"
    globals_row = tiles.select(
        F.expr("CAST(size(data) AS BIGINT)").alias("n_t"),
        F.expr(f"aggregate(data, {acc}, (a, v) -> a + v)").alias("s_t"),
        F.expr(f"aggregate(data, {acc}, (a, v) -> a + v * v)")
        .alias("q_t"),
    ).agg(F.sum("n_t").alias("n"), F.sum("s_t").alias("s"),
          F.sum("q_t").alias("q"))
    focal = focal_op(tiles, op="sum3", tile_size=t)
    px = (focal.select(
            "tx", "ty", F.posexplode("data").alias("i", "wx"))
          .select(
              (F.col("tx") * t + F.col("i") % t).alias("x"),
              (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
              .cast("long").alias("y"),
              "wx"))
    z = ("CASE WHEN (((n * q) - (s * s)) <= 0) OR (n <= 9) THEN NULL"
         " ELSE CAST((n * wx) - (9 * s) AS DOUBLE)"
         " / sqrt(CAST((n * q) - (s * s) AS DOUBLE)"
         " * CAST((9 * n) - 81 AS DOUBLE)"
         " / CAST(n - 1 AS DOUBLE)) END")
    out = (px.crossJoin(F.broadcast(globals_row))
           .select("x", "y", "wx",
                   F.expr("(n * wx) - (9 * s)").alias("a"),
                   F.expr(z).alias("z")))
    return out

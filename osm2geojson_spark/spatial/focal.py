"""Tiled-raster focal (neighborhood) operators via halo exchange.

The missing raster half of the zonal/heatmap family: per-pixel 3×3
neighborhood ops (focal sum/mean, Horn slope/hillshade) over a raster
stored as one row per tile — the layout the repo's renderers and
``spatial/zonal.py`` already use, and the only layout that works at
continental-DEM scale (a 100 TB raster is always tiled; no single
executor ever sees a full row of pixels).

The distributed pattern is the classic **halo exchange**: a 3×3 kernel
at a tile border needs one pixel of each neighbor, so every tile ships
its 4 edge strips + 4 corner pixels to the 8 neighbor keys (≈ 4T+4
pixels on top of its own T² — a 1.13× shuffle at T=64, amortizing to
1.0 as T grows), ONE shuffle groups each tile with its halo, and an
Arrow kernel assembles the padded (T+2)² array and runs the kernel.
No tile ever needs the full raster; the shuffle is uniform by
construction (every key receives exactly 9 payloads), so there is no
skew surface at all.

Boundary semantics are GDAL-style edge replication == computing on
coordinates clamped to the raster — the property that lets the DuckDB
oracle compute the same values with NO join at all (the synthetic
DEM's value is a closed-form int expression, so the oracle evaluates
the 9 clamped terms directly; the Spark side genuinely exchanges
halos — two maximally different paths meeting at exact int64 values).

Missing-neighbor fill order (reproduces clamping exactly for a full
rectangular tile grid): edge strips replicate the adjacent inner line;
a missing corner replicates from the present side (clamp collapses the
missing axis first).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist

__all__ = [
    "synth_dem_tiles",
    "focal_op",
    "focal_reference",
    "hillshade_kernel",
    "flow_cells",
    "flow_accumulation",
    "watershed_basins",
    "strahler_order",
    "cost_edges",
    "cost_distance",
    "raster_pyramid",
]

_CENTER = 4  # part code (sdy+1)*3 + (sdx+1) for the tile's own body


def synth_dem_tiles(spark, tiles_x: int, tiles_y: int, tile_size: int,
                    value_fn=None) -> DataFrame:
    """Deterministic synthetic DEM: (tx, ty, data array<long>) row-major
    ``tile_size²`` tiles with ``data[y*T+x] = value_fn(gx, gy)`` —
    generated map-side from ``spark.range`` (no shuffle, no files).
    The default ``value_fn`` matches the catalog oracle's closed-form
    SQL expression."""
    t = int(tile_size)
    fn = value_fn if value_fn is not None else dem_value_np

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for tid in pdf["id"]:
                tx, ty = int(tid) % tiles_x, int(tid) // tiles_x
                gx = tx * t + np.arange(t, dtype=np.int64)[None, :]
                gy = ty * t + np.arange(t, dtype=np.int64)[:, None]
                val = np.broadcast_to(
                    np.asarray(fn(gx, gy), np.int64), (t, t))
                rows.append((tx, ty, val.ravel().tolist()))
            yield pd.DataFrame(rows, columns=["tx", "ty", "data"])

    return (spark.range(tiles_x * tiles_y)
            .repartition(spark.sparkContext.defaultParallelism)
            .mapInPandas(gen, schema="tx long, ty long, data array<long>"))


def dem_value_np(gx, gy):
    """The catalog DEM formula — pure int ops, clamped-coordinate safe."""
    return (gx * 73 + gy * 19) % 100 + (gx * gx + 3 * gy * gy) % 7


def hillshade_kernel(padded: np.ndarray, z_factor: float = 1.0,
                     azimuth_deg: float = 315.0,
                     altitude_deg: float = 45.0) -> np.ndarray:
    """Horn (1981) hillshade over a padded (T+2)² int array → uint8
    T² shade. Deterministic float op order (whole-array numpy ops)."""
    p = padded.astype(np.float64)
    dzdx = ((p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
            - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2])) / 8.0
    dzdy = ((p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
            - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:])) / 8.0
    dzdx *= z_factor
    dzdy *= z_factor
    zen = np.deg2rad(90.0 - altitude_deg)
    az = np.deg2rad(360.0 - azimuth_deg + 90.0)
    slope = np.arctan(np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = (np.cos(zen) * np.cos(slope)
             + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
    return np.clip(np.rint(shade * 254.0) + 1, 0, 255).astype(np.uint8)


def _focal_sum(padded: np.ndarray) -> np.ndarray:
    s = np.zeros(padded[1:-1, 1:-1].shape, dtype=np.int64)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            h, w = s.shape
            s += padded[dy:dy + h, dx:dx + w]
    return s


# D8 scan order (ESRI codes): E, SE, S, SW, W, NW, N, NE. Diagonal
# distance is weighted with the EXACT rational pair (70, 99) — score =
# drop·99 straight vs drop·70 diagonal (99/70 ≈ √2 to 7e-5), so the
# steepest-descent comparison is pure int64 and tie-breaks are the
# fixed scan order (numpy argmax first-max == the oracle's CASE chain).
_D8 = [(1, 0, 1, 99), (1, 1, 2, 70), (0, 1, 4, 99), (-1, 1, 8, 70),
       (-1, 0, 16, 99), (-1, -1, 32, 70), (0, -1, 64, 99),
       (1, -1, 128, 70)]


def _flowdir8(padded: np.ndarray) -> np.ndarray:
    c = padded[1:-1, 1:-1]
    h, w = c.shape
    scores = np.stack([
        (c - padded[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]) * wt
        for dx, dy, _code, wt in _D8])
    best = np.argmax(scores, axis=0)  # first max in scan order
    codes = np.array([code for _dx, _dy, code, _wt in _D8], np.int64)
    return np.where(scores.max(axis=0) > 0, codes[best], 0)


def _bilinear2x(padded: np.ndarray) -> np.ndarray:
    """EXACT 2x bilinear upsample, values scaled by 4 so the halves
    and quarters stay int64: out(2i+a, 2j+b) = the 4-sample sum
    c + [a]down + [b]right + [ab]diag with clamped samples at the
    raster boundary (the padded edge replication IS the clamp)."""
    c = padded[1:-1, 1:-1]
    down = padded[2:, 1:-1]
    right = padded[1:-1, 2:]
    diag = padded[2:, 2:]
    h, w = c.shape
    out = np.empty((2 * h, 2 * w), dtype=np.int64)
    out[0::2, 0::2] = 4 * c
    out[0::2, 1::2] = 2 * (c + right)
    out[1::2, 0::2] = 2 * (c + down)
    out[1::2, 1::2] = c + right + down + diag
    return out


def _focal_extreme(padded: np.ndarray, fn) -> np.ndarray:
    h, w = padded[1:-1, 1:-1].shape
    return fn(np.stack([padded[dy:dy + h, dx:dx + w]
                        for dy in (0, 1, 2) for dx in (0, 1, 2)]), axis=0)


_MODE_M = 1 << 32  # value bound for the (count desc, value asc) encode


def _focal_mode(padded: np.ndarray) -> np.ndarray:
    """3×3 majority filter — the categorical-raster resampler
    (landcover smoothing, label cleanup). Tie rule: most frequent,
    then SMALLEST value — realized as integer min of the encode
    ``−count·2³² + value`` over the 9 candidates (needs
    0 ≤ value < 2³²; raise, don't corrupt)."""
    if padded.min() < 0 or padded.max() >= _MODE_M:
        raise ValueError("mode3 requires 0 <= values < 2^32")
    h, w = padded[1:-1, 1:-1].shape
    stack = np.stack([padded[dy:dy + h, dx:dx + w]
                      for dy in (0, 1, 2) for dx in (0, 1, 2)])
    counts = (stack[:, None, :, :] == stack[None, :, :, :]).sum(axis=1)
    enc = -counts.astype(np.int64) * _MODE_M + stack
    return np.take_along_axis(
        stack, enc.argmin(axis=0)[None], axis=0)[0]



def _focal_tri(padded: np.ndarray) -> np.ndarray:
    """Terrain Ruggedness Index (Riley et al.): sum of |neighbor −
    center| over the 8 neighbors — pure int64, boundary clamped like
    every focal op, so the catalog oracle is the 8-term closed form."""
    c = padded[1:-1, 1:-1]
    s = np.zeros(c.shape, dtype=np.int64)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            if dy == 1 and dx == 1:
                continue
            h, w = c.shape
            s += np.abs(padded[dy:dy + h, dx:dx + w] - c)
    return s


_OPS = {
    "sum3": (_focal_sum, "array<long>"),
    "mean3": (lambda p: _focal_sum(p) // 9, "array<long>"),
    "hillshade": (hillshade_kernel, "array<long>"),
    "flowdir8": (_flowdir8, "array<long>"),
    "bilin2x": (_bilinear2x, "array<long>"),
    # grayscale morphology over the same halo exchange: erosion /
    # dilation are focal min / max with a 3x3 square structuring
    # element; opening/closing are compositions of the two (pinned in
    # tests via focal_reference), morphological gradient = max3 - min3.
    "min3": (lambda p: _focal_extreme(p, np.min), "array<long>"),
    "max3": (lambda p: _focal_extreme(p, np.max), "array<long>"),
    # majority filter: most frequent of the 9, ties -> smallest value
    "mode3": (_focal_mode, "array<long>"),
    # terrain ruggedness index: sum |neighbor - center| over the 8
    "tri": (_focal_tri, "array<long>"),
}


def focal_reference(grid: np.ndarray, op: str = "sum3") -> np.ndarray:
    """Single-array reference: pad the FULL raster with edge
    replication and run the same kernel — what the distributed halo
    exchange must reproduce tile-exactly (pinned in tests)."""
    kern, _ = _OPS[op]
    return kern(np.pad(np.asarray(grid, np.int64), 1, mode="edge"))


def focal_op(tiles: DataFrame, op: str = "sum3",
             tile_size: int = 64) -> DataFrame:
    """3×3 focal operator over ``(tx, ty, data array<long>)`` tiles →
    same schema with ``data`` replaced by the kernel output. ONE
    shuffle: each tile emits itself + 8 halo strips keyed by the
    receiving neighbor; ``applyInPandas`` assembles the padded array
    per tile and applies the kernel. Assumes a full rectangular tile
    grid (edge replication at the raster boundary)."""
    if op not in _OPS:
        raise ValueError(f"op must be one of {sorted(_OPS)}")
    t = int(tile_size)
    kern, out_t = _OPS[op]

    import pandas as pd

    def emit(batches):
        for pdf in batches:
            out = []
            for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                a = np.asarray(data, np.int64).reshape(t, t)
                tx, ty = int(tx), int(ty)
                out.append((tx, ty, _CENTER, list(data)))
                for sdy in (-1, 0, 1):
                    for sdx in (-1, 0, 1):
                        if sdx == 0 and sdy == 0:
                            continue
                        # strip of THIS tile adjacent to receiver
                        # (tx - sdx, ty - sdy); receiver sees us at
                        # relative (sdx, sdy)
                        ys = slice(None) if sdy == 0 else (
                            slice(0, 1) if sdy == 1 else slice(t - 1, t))
                        xs = slice(None) if sdx == 0 else (
                            slice(0, 1) if sdx == 1 else slice(t - 1, t))
                        out.append((tx - sdx, ty - sdy,
                                    (sdy + 1) * 3 + (sdx + 1),
                                    a[ys, xs].ravel().tolist()))
            yield pd.DataFrame(
                out, columns=["tx", "ty", "part", "payload"])

    halo = tiles.mapInPandas(
        emit, schema="tx long, ty long, part int, payload array<long>")

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts = {int(p): np.asarray(v, np.int64)
                 for p, v in zip(pdf["part"], pdf["payload"])}
        if _CENTER not in parts:
            return pd.DataFrame(  # halo for a tile outside the grid
                columns=["tx", "ty", "data"]).astype(
                {"tx": "int64", "ty": "int64"})
        padded = np.zeros((t + 2, t + 2), dtype=np.int64)
        padded[1:-1, 1:-1] = parts[_CENTER].reshape(t, t)
        # part code = (sdy+1)*3 + (sdx+1) of the SENDER relative to us
        top, bottom = 1 in parts, 7 in parts
        left, right = 3 in parts, 5 in parts
        if top:
            padded[0, 1:t + 1] = parts[1]
        if bottom:
            padded[t + 1, 1:t + 1] = parts[7]
        if left:
            padded[1:t + 1, 0] = parts[3]
        if right:
            padded[1:t + 1, t + 1] = parts[5]
        for code, (cy, cx) in ((0, (0, 0)), (2, (0, t + 1)),
                               (6, (t + 1, 0)), (8, (t + 1, t + 1))):
            if code in parts:
                padded[cy, cx] = parts[code][0]
        # raster boundary: replicate inner lines (== coordinate clamp)
        if not top:
            padded[0, 1:t + 1] = padded[1, 1:t + 1]
        if not bottom:
            padded[t + 1, 1:t + 1] = padded[t, 1:t + 1]
        if not left:
            padded[1:t + 1, 0] = padded[1:t + 1, 1]
        if not right:
            padded[1:t + 1, t + 1] = padded[1:t + 1, t]
        # missing corners: clamp collapses each missing axis to the
        # inner line; the present axis keeps the neighbor's strip
        for code, cy, cx, vert, horz in (
                (0, 0, 0, top, left), (2, 0, t + 1, top, right),
                (6, t + 1, 0, bottom, left),
                (8, t + 1, t + 1, bottom, right)):
            if code in parts:
                continue
            sy = cy if vert else (1 if cy == 0 else t)
            sx = cx if horz else (1 if cx == 0 else t)
            if sy == cy and sx == cx:
                # ragged grid (streaming upserts): both edge neighbors
                # exist but the diagonal doesn't — no clamp direction is
                # "the" boundary, so replicate the own inner corner
                # (deterministic; impossible on a full rectangular grid)
                sy = 1 if cy == 0 else t
                sx = 1 if cx == 0 else t
            padded[cy, cx] = padded[sy, sx]
        res = kern(padded)
        return pd.DataFrame(
            [(int(key[0]), int(key[1]),
              res.astype(np.int64).ravel().tolist())],
            columns=["tx", "ty", "data"])

    return halo.groupBy("tx", "ty").applyInPandas(
        assemble, schema=f"tx long, ty long, data {out_t}")


# ------------------------------------------------------ flow accumulation
_D8_DXY = {1: (1, 0), 2: (1, 1), 4: (0, 1), 8: (-1, 1),
           16: (-1, 0), 32: (-1, -1), 64: (0, -1), 128: (1, -1)}


def flow_cells(dir_tiles: DataFrame, tile_size: int,
               width: int, height: int) -> DataFrame:
    """``flowdir8`` tiles → per-cell flow edges: (cell, tgt) with
    ``cell = gy*width + gx`` and ``tgt`` the D8 target CLAMPED to the
    raster (the same clamp the kernel scored against — strict-descent
    guarantees target ≠ cell and acyclicity), null for pits/flats."""
    t = int(tile_size)
    dir_code = F.col("dir")
    x = F.col("tx") * t + F.col("i") % t
    y = F.col("ty") * t + F.expr(f"i div {t}")
    dx = F.create_map(*[F.lit(v) for kv in _D8_DXY.items()
                        for v in (kv[0], kv[1][0])])[dir_code]
    dy = F.create_map(*[F.lit(v) for kv in _D8_DXY.items()
                        for v in (kv[0], kv[1][1])])[dir_code]
    tx2 = F.least(F.greatest(x + dx, F.lit(0)), F.lit(width - 1))
    ty2 = F.least(F.greatest(y + dy, F.lit(0)), F.lit(height - 1))
    return (
        dir_tiles.select("tx", "ty",
                         F.posexplode("data").alias("i", "dir"))
        .select(
            (y * width + x).cast("long").alias("cell"),
            F.when(dir_code != 0,
                   (ty2 * width + tx2).cast("long")).alias("tgt"))
    )


def flow_accumulation(dir_tiles: DataFrame, tile_size: int,
                      width: int, height: int,
                      max_rounds: int = 10_000) -> DataFrame:
    """Upstream drainage area: for every cell, the number of cells
    (itself included) whose D8 flow path passes through it — the
    hydrology op downstream of ``flowdir8``, and a DAG aggregation the
    engine runs as TOPOLOGICAL WAVES: each round, cells whose upstream
    contributions have all arrived push their totals one edge
    downstream (one equi-join + one integer-sum shuffle per round, the
    SSSP/pagerank loop discipline — localCheckpoint truncation, O(1)
    driver rows). Rounds = flow-tree depth, bounded by the elevation
    range (strict descent), NOT by raster size. Oracle: a DuckDB
    recursive-CTE path walk over the same closed-form directions —
    unique paths because every cell has ≤ 1 outgoing edge."""
    cells = flow_cells(dir_tiles, tile_size, width, height)
    edges = persist(cells.where(F.col("tgt").isNotNull())
                    .select(F.col("cell").alias("src"), F.col("tgt").alias("dst"))
                    .repartition("src"))
    indeg = edges.groupBy(F.col("dst").alias("cell")).agg(
        F.count(F.lit(1)).alias("pending"))
    state = (
        cells.select("cell").join(indeg, "cell", "left")
        .select(
            "cell",
            F.lit(1).cast("long").alias("acc"),
            F.coalesce("pending", F.lit(0)).cast("long").alias("pending"),
            F.lit(False).alias("pushed"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        ready = state.where((F.col("pending") == 0) & ~F.col("pushed"))
        if ready.limit(1).count() == 0:
            break
        msgs = (ready.select(F.col("cell").alias("src"), "acc")
                .join(edges, "src")
                .groupBy(F.col("dst").alias("cell"))
                .agg(F.sum("acc").alias("add_acc"),
                     F.count(F.lit(1)).alias("arrived")))
        state = (
            state.join(msgs, "cell", "left")
            .select(
                "cell",
                (F.col("acc") + F.coalesce("add_acc", F.lit(0)))
                .alias("acc"),
                (F.col("pending") - F.coalesce("arrived", F.lit(0)))
                .alias("pending"),
                (F.col("pushed") | (F.col("pending") == 0))
                .alias("pushed"))
            .localCheckpoint(eager=True)
        )
    else:
        edges.unpersist()
        raise RuntimeError(
            f"flow_accumulation did not drain within {max_rounds} rounds "
            "(cyclic directions? flowdir8 guarantees strict descent)")
    edges.unpersist()
    return state.select("cell", "acc")


def watershed_basins(dir_tiles: DataFrame, tile_size: int,
                     width: int, height: int,
                     max_pow: int = 20,
                     stats: dict | None = None) -> DataFrame:
    """Basin (watershed) labeling: every cell → the id of the terminal
    pit its D8 flow path drains to — the hydrology op that partitions a
    DEM into catchment basins. The D8 forest has ≤ 1 outgoing edge per
    cell, so the engine runs POINTER DOUBLING (the route-reconstruction
    discipline from ``spatial/route.py``): state ``(cell, nxt)`` starts
    one hop downstream (pits self-loop) and each round substitutes
    ``nxt ← nxt.nxt`` via one self-equi-join, squaring the distance
    covered — rounds = ceil(log2(longest flow path)), bounded by the
    elevation range (strict descent), NOT the raster size. O(1) driver
    rows per round (a limit(1) moved-probe), localCheckpoint lineage
    truncation. At 100 TB the state table is one row per pixel and each
    round is a single equi-join shuffle on int64 keys — no skew surface
    (keys are unique on the build side).

    Returns ``(cell, basin)`` with ``basin`` the pit's cell id."""
    cells = flow_cells(dir_tiles, tile_size, width, height)
    state = (
        cells.select("cell", F.coalesce("tgt", F.col("cell")).alias("nxt"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_pow):
        hop = state.select(F.col("cell").alias("h_cell"),
                           F.col("nxt").alias("h_nxt"))
        doubled = (
            state.join(hop, state["nxt"] == hop["h_cell"])
            .select(state["cell"].alias("cell"),
                    F.col("h_nxt").alias("nxt"),
                    (F.col("h_nxt") != state["nxt"]).alias("moved"))
            .localCheckpoint(eager=True)
        )
        still_moving = doubled.where("moved").limit(1).count()
        state = doubled.drop("moved")
        rounds += 1
        if still_moving == 0:
            break
    else:
        raise RuntimeError(
            f"watershed_basins did not converge within {max_pow} doubling "
            "rounds (flow path longer than 2^%d cells?)" % max_pow)
    if stats is not None:
        stats["rounds"] = rounds
    return state.select("cell", F.col("nxt").alias("basin"))


def strahler_order(dir_tiles: DataFrame, tile_size: int,
                   width: int, height: int,
                   max_rounds: int = 10_000) -> DataFrame:
    """Strahler stream order over the D8 forest: leaves (no inflow) are
    order 1; an interior cell is ``m + 1`` when ≥ 2 upstream children
    attain the maximum child order ``m``, else ``m``. Runs as the same
    TOPOLOGICAL WAVES as :func:`flow_accumulation`, but the per-cell
    accumulator is the ``(max, count-of-max)`` SEMIGROUP — messages
    arriving across different waves merge exactly:
    ``new_max = max(old, msg)``; counts carry over when their order
    equals the new max and reset to 0 otherwise. The per-round message
    reduction is two map-side-combinable aggregations: counts per
    (cell, ord), then ``max(struct(ord, cnt))`` picks the max order AND
    its count in one pass. Rounds = flow-tree depth; O(1) driver rows.

    Returns ``(cell, strahler)``."""
    cells = flow_cells(dir_tiles, tile_size, width, height)
    edges = persist(cells.where(F.col("tgt").isNotNull())
                    .select(F.col("cell").alias("src"), F.col("tgt").alias("dst"))
                    .repartition("src"))
    indeg = edges.groupBy(F.col("dst").alias("cell")).agg(
        F.count(F.lit(1)).alias("pending"))
    state = (
        cells.select("cell").join(indeg, "cell", "left")
        .select(
            "cell",
            F.coalesce("pending", F.lit(0)).cast("long").alias("pending"),
            F.lit(False).alias("pushed"),
            F.lit(0).cast("long").alias("max_ord"),
            F.lit(0).cast("long").alias("cnt_max"),
            F.lit(None).cast("long").alias("ord"))
        .localCheckpoint(eager=True)
    )
    # Strahler order of a READY cell from its accumulated (max, cnt).
    def _ord_expr():
        return (F.when(F.col("max_ord") == 0, F.lit(1).cast("long"))
                .when(F.col("cnt_max") >= 2, F.col("max_ord") + 1)
                .otherwise(F.col("max_ord")))

    for _ in range(max_rounds):
        ready = state.where((F.col("pending") == 0) & ~F.col("pushed"))
        if ready.limit(1).count() == 0:
            break
        msgs = (
            ready.select(F.col("cell").alias("src"),
                         _ord_expr().alias("m_ord"))
            .join(edges, "src")
            .groupBy(F.col("dst").alias("cell"), "m_ord")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("cell")
            .agg(F.max(F.struct(F.col("m_ord"), F.col("cnt"))).alias("mx"),
                 F.sum("cnt").alias("arrived"))
            .select("cell", F.col("mx.m_ord").alias("msg_max"),
                    F.col("mx.cnt").alias("msg_cnt"), "arrived"))
        new_max = F.greatest(F.col("max_ord"),
                             F.coalesce("msg_max", F.lit(0)))
        new_cnt = (
            F.when(F.col("max_ord") == new_max, F.col("cnt_max"))
            .otherwise(F.lit(0))
            + F.when(F.coalesce("msg_max", F.lit(-1)) == new_max,
                     F.col("msg_cnt")).otherwise(F.lit(0)))
        state = (
            state.join(msgs, "cell", "left")
            .select(
                "cell",
                (F.col("pending") - F.coalesce("arrived", F.lit(0)))
                .alias("pending"),
                (F.col("pushed") | (F.col("pending") == 0)).alias("pushed"),
                new_max.alias("new_max_ord"),
                new_cnt.alias("new_cnt_max"),
                F.when((F.col("pending") == 0) & ~F.col("pushed"),
                       _ord_expr()).otherwise(F.col("ord")).alias("ord"))
            .withColumnsRenamed({"new_max_ord": "max_ord",
                                 "new_cnt_max": "cnt_max"})
            .localCheckpoint(eager=True)
        )
    else:
        edges.unpersist()
        raise RuntimeError(
            f"strahler_order did not drain within {max_rounds} rounds "
            "(cyclic directions? flowdir8 guarantees strict descent)")
    edges.unpersist()
    return state.select("cell", F.col("ord").alias("strahler"))


# ------------------------------------------------------- cost distance
# 8-neighbor offsets with the exact rational sqrt2 pair: straight moves
# scale (cost_a + cost_b) by 70, diagonal by 99 (99/70 = sqrt2 to 7e-5)
# - pure int64, same discipline as the D8 scoring weights.
_COST_OFFS = [(1, 0, 70), (-1, 0, 70), (0, 1, 70), (0, -1, 70),
              (1, 1, 99), (-1, 1, 99), (1, -1, 99), (-1, -1, 99)]


def cost_edges(cost_tiles: DataFrame, tile_size: int,
               width: int, height: int) -> DataFrame:
    """Cost-surface → weighted 8-neighbor edge table ``(src, dst, w)``
    with ``w = (cost_src + cost_dst) · 70`` straight / ``· 99``
    diagonal (the ESRI cost-distance accumulation ``(c_a+c_b)/2 · d``
    kept integer by folding the /2 and the √2 into one rational
    scale). One explode (8 rows/cell) + ONE equi-join on the neighbor
    cell id to fetch its cost — no theta join, no halo needed because
    edges, unlike kernels, are per-pair."""
    t = int(tile_size)
    cells = (
        cost_tiles.select("tx", "ty",
                          F.posexplode("data").alias("i", "cost"))
        .select(
            ((F.col("ty") * t + F.expr(f"i div {t}")) * width
             + (F.col("tx") * t + F.col("i") % t)).alias("cell"),
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + F.expr(f"i div {t}")).alias("y"),
            F.col("cost").cast("long").alias("cost")))
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(m).alias("m"))
        for dx, dy, m in _COST_OFFS])
    cand = (cells
            .select("cell", "x", "y", "cost",
                    F.explode(offs).alias("o"))
            .select("cell", "cost",
                    (F.col("x") + F.col("o.dx")).alias("nx"),
                    (F.col("y") + F.col("o.dy")).alias("ny"),
                    F.col("o.m").alias("m"))
            .where((F.col("nx") >= 0) & (F.col("nx") < width)
                   & (F.col("ny") >= 0) & (F.col("ny") < height))
            .select("cell", "cost",
                    (F.col("ny") * width + F.col("nx")).alias("ncell"),
                    "m"))
    ncost = cells.select(F.col("cell").alias("ncell"),
                         F.col("cost").alias("ncost"))
    return (cand.join(ncost, "ncell")
            .select(F.col("cell").alias("src"),
                    F.col("ncell").alias("dst"),
                    ((F.col("cost") + F.col("ncost")) * F.col("m"))
                    .alias("w")))


def cost_distance(cost_tiles: DataFrame, tile_size: int,
                  width: int, height: int, source: int,
                  block: int | None = None) -> DataFrame:
    """Accumulated least-cost distance from ``source`` over a tiled
    cost raster — the GIS Cost Distance operator, run as Δ-stepping
    SSSP (spatial/route.py) over :func:`cost_edges` with the grid
    block partitioner, so rounds = O(raster diameter in BLOCKS), not
    pixels. Returns ``(node_id, dist)`` (cell ids; unreachable cells
    absent — impossible on a full grid)."""
    from osm2geojson_spark.spatial.route import (
        grid_block_part,
        shortest_paths_delta,
    )

    if width != height:
        raise ValueError(
            "cost_distance's block partitioner assumes a square raster; "
            "pad the cost surface or pass a custom partitioner via "
            "shortest_paths_delta directly")
    edges = cost_edges(cost_tiles, tile_size, width, height)
    blk = int(block) if block is not None else int(tile_size)
    return shortest_paths_delta(
        edges, source, part=grid_block_part(width, blk))


# ------------------------------------------------------ raster pyramid
def raster_pyramid(tiles: DataFrame, tile_size: int,
                   levels: int) -> DataFrame:
    """Overview pyramid for a tiled int raster: each level downsamples
    2× by 2×2 FLOOR-MEAN (``(a+b+c+d) div 4`` — the nesting matters:
    level L is the floor-mean of level L−1, not of the base). Tiles
    stay ``tile_size²`` across levels; 2×2 child tiles merge into one
    parent (one uniform shuffle per level, key = (tx div 2, ty div 2),
    every parent receives exactly 4 payloads — zero skew by
    construction, the halo-exchange guarantee without the halo).
    Requires even tile counts at every level (raise, don't mislabel —
    ragged pyramids need explicit edge policy from the caller).

    Returns ``(level, tx, ty, data)`` for levels 1..levels."""
    import pandas as pd

    t = int(tile_size)
    if t % 2 != 0:
        raise ValueError("tile_size must be even")

    def shrink_assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) != 4:
            raise ValueError(
                f"parent tile {tuple(int(k) for k in key)} has "
                f"{len(pdf)} children (expected 4): ragged tile grid — "
                "raster_pyramid requires even tile counts per level")
        h = t // 2
        out = np.empty((t, t), np.int64)
        for r in pdf.itertuples(index=False):
            a = np.asarray(r.data, np.int64).reshape(t, t)
            small = (a[0::2, 0::2] + a[0::2, 1::2]
                     + a[1::2, 0::2] + a[1::2, 1::2]) // 4
            qy, qx = int(r.ty) % 2, int(r.tx) % 2
            out[qy * h:(qy + 1) * h, qx * h:(qx + 1) * h] = small
        return pd.DataFrame(
            [(int(key[0]), int(key[1]), out.ravel().tolist())],
            columns=["tx", "ty", "data"])

    cur = tiles.select("tx", "ty", "data")
    out = None
    for lvl in range(1, int(levels) + 1):
        cur = (cur
               .withColumn("ptx", F.expr("tx div 2"))
               .withColumn("pty", F.expr("ty div 2"))
               .groupBy("ptx", "pty")
               .applyInPandas(shrink_assemble,
                              schema="tx long, ty long, data array<long>")
               .localCheckpoint(eager=True))
        lv = cur.select(F.lit(lvl).cast("long").alias("level"),
                        "tx", "ty", "data")
        out = lv if out is None else out.unionAll(lv)
    return out

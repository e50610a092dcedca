"""Benchmark harness (driver contract) and scaling sweeps.

Headline: runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Every query is forced end-to-end with the `noop` sink (full plan executes,
nothing ships to the driver). The flagship `spatial_pipeline` is the
north-star shape — cell encode → broadcast PIP → tile assignment → rollup —
over the largest table (lineitem-derived points), and its rows/sec is
reported as ``spatial_rows_per_sec``.

Sweeps (``SWEEPS``): one family per scaling question, each op timed at
every size and, for scaling families, at N = max(1, nproc // 4) and
4N = nproc cores in fresh JVMs; one JSON line per (op, size, level), then
cost ratios across sizes and scaling efficiency across levels.

Usage:
  python bench.py                  # all headline queries
  python bench.py q1 q2 ...        # subset
  python bench.py --sweep FAMILY [SIZE ...]
  SPARK_GRAFT_BENCH_REPEAT=3 ...   # min of N timed runs after a warm-up
  SPARK_GRAFT_CPUS=8 ...           # one level (a sweep runs only it)
"""

from __future__ import annotations

import functools
import heapq
import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from osm2geojson_spark import queries as Q  # noqa: E402
from osm2geojson_spark.session import get_spark, owned, persist  # noqa: E402
from osm2geojson_spark.spatial import tiles as TI  # noqa: E402
from osm2geojson_spark.spatial.pip import point_in_polygon_join  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEAT = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))


def spatial_pipeline(spark, sf_dir):
    """Flagship: 600k lineitem-derived points → PIP (broadcast, Morton
    prefilter) → tile assign (zoom 7, shuffle-free) → per-(poly,tile) agg."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    pts = li.select(
        key.alias("pt_id"),
        Q.lon_col(key).alias("lon"),
        Q.lat_col(key).alias("lat"),
    )
    hits = point_in_polygon_join(pts, Q.region_boxes(region), res=7)
    tiled = TI.assign_tiles(hits, zoom=7)
    return tiled.groupBy("poly_id", "tile_id").agg(
        F.count("*").alias("n_points"), F.min("pt_id").alias("min_pt"))


def tile_assign_full(spark, sf_dir):
    """Pure tile assignment + histogram over ALL points (no PIP filter) —
    the raw raster↔vector assignment rate."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    pts = li.select(key.alias("pt_id"), Q.lon_col(key).alias("lon"),
                    Q.lat_col(key).alias("lat"))
    return TI.tile_histogram(pts, zoom=7)


def s2_encode_full(spark, sf_dir):
    """TRUE S2 encode over ALL points (Arrow-batched cube-face + Hilbert
    kernel, functions/s2.py) + parent rollup histogram via pure column
    bit math — the north-star's "batch-encode each record to H3/S2
    cells" shape, added round 3."""
    from osm2geojson_spark.functions import s2 as S2

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    cell = S2.s2_udf(level=12)(Q.lon_col(key), Q.lat_col(key))
    return (li.select(S2.parent_expr(cell, 6).alias("s2_cell"))
            .groupBy("s2_cell").agg(F.count("*").alias("n_rows")))


def osm_assembly(spark, sf_dir):
    """The reference's core workload at scale: synthesize 100k ways /
    ~400k nodes distributed (hash arithmetic, no driver loop), run the
    J1+J2 ordered geometry assembly and the GE2+tag pipeline to GeoJSON
    features. Reference baseline: order 1e5 entities/sec single node
    (README.md:60)."""
    from osm2geojson_spark.operators.osm_join import assemble_ways
    from osm2geojson_spark.operators.postprocess import way_features
    from osm2geojson_spark.synth.osm import scale_tables

    tabs = scale_tables(spark, n_ways=100_000, nodes_per_way=5)
    return way_features(assemble_ways(tabs["nodes"], tabs["ways"]))


PLANET_BZ2 = "/tmp/spark_graft_planet_bench.osm.bz2"


def _ensure_planet_file() -> None:
    """Deterministic ~1.5 MB bz2 planet-style dump (bz2 level 1 → ~100 kB
    blocks → real multi-split parallelism), built once per host."""
    if os.path.exists(PLANET_BZ2):
        return
    import bz2

    parts = ["<?xml version='1.0'?>", "<osm>"]
    for i in range(150_000):
        if i % 5 == 0:
            parts.append(
                f'<node id="{i + 1}" lat="{50 + i * 1e-5:.5f}" lon="{5 + i * 1e-5:.5f}">'
                f'\n  <tag k="name" v="N{i}"/>\n</node>')
        else:
            parts.append(
                f'<node id="{i + 1}" lat="{50 + i * 1e-5:.5f}" lon="{5 + i * 1e-5:.5f}"/>')
    for w in range(15_000):
        refs = "\n".join(f'  <nd ref="{(w * 9 + j) % 150_000 + 1}"/>' for j in range(8))
        parts.append(f'<way id="{500_000 + w}">\n{refs}\n</way>')
    parts.append("</osm>")
    tmp = PLANET_BZ2 + ".tmp"
    with open(tmp, "wb") as f:
        f.write(bz2.compress("\n".join(parts).encode(), compresslevel=1))
    os.replace(tmp, PLANET_BZ2)


def _hillshade_dem(spark, sf_dir):
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    tiles = synth_dem_tiles(spark, 16, 16, 64)  # 1M pixels, 256 tiles
    return focal_op(tiles, op="hillshade", tile_size=64)


def _geo_mosaic_bench(spark, sf_dir):
    """Geo-referenced mosaic over a 4,000-image synthetic corpus (the
    full 9-codec rotation decodes in the hot path): placement algebra,
    ≤4-way tile-straddle explode, one groupBy(tile) Arrow mean-blend."""
    from osm2geojson_spark.operators.images import geo_mosaic
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=4000, seed=42, fmts=FMTS_TIFF)
    return geo_mosaic(imgs, world_px=4096, tile=256, thumb=16)


def _kendall_full(spark, sf_dir):
    """Exact Kendall tau-b over the FULL lineitem (600k rows at sf0.1)
    — block inclusion–exclusion dominance counting; the brute force
    would be 1.8·10¹¹ pairs."""
    from pyspark.sql import functions as F

    from osm2geojson_spark.operators.stats import kendall_tau

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.expr("CAST(FLOOR(l_quantity) AS BIGINT)").alias("qx"),
        F.expr("CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT)")
        .alias("qy"))
    return kendall_tau(li, "qx", "qy")


def _box_filter_1m(spark, sf_dir):
    """Distributed SAT + radius-5 box filter over the 1M-pixel DEM:
    two line-window exchanges + the (k+1)-wide halo shuffle — the
    integral-image pipeline at a real size."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.sat import (
        box_filter_tiles,
        integral_image_tiles,
    )

    tiles = synth_dem_tiles(spark, 16, 16, 64)
    return box_filter_tiles(
        integral_image_tiles(tiles, 64), 64, 5, 16, 16)


def _glcm_1m(spark, sf_dir):
    """GLCM over the 1M-pixel DEM: 1-wide halo strips + per-tile
    bincount partials + a tiles-bounded L² groupBy — near-map-only."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.texture import glcm_tiles

    tiles = synth_dem_tiles(spark, 16, 16, 64)
    return glcm_tiles(tiles, 64, 16, 16, levels=16, lo=0, hi=106)


def planet_ingest(spark, sf_dir):
    """S3 distributed planet ingest: ONE bz2 file split across tasks →
    boundary-stitched blobs → parsed node table (the reference streams
    this single-threaded; we decode + parse in parallel)."""
    from osm2geojson_spark.sources.osm_xml import (
        parse_osm_blobs,
        read_osm_blobs_distributed,
    )

    _ensure_planet_file()
    # two-pass streaming default: at this file size (~0.8 MB, 9 splits)
    # the second decompress costs LESS than caching the split scan
    # (measured min-of-3: 1.65 s two-pass vs 2.12 s persisted — block
    # serialization + memory pressure beat a cheap re-read); persist_scan
    # is the big-file option where decompress dominates
    blobs = read_osm_blobs_distributed(
        spark, PLANET_BZ2, split_maxsize=96 * 1024)
    return parse_osm_blobs(blobs)["nodes"]


ZONAL_PARQUET = "/tmp/spark_graft_zonal_bench_imgs.parquet"


def zonal_stats_full(spark, sf_dir):
    """G5 raster zonal statistics at bench scale: 4k image tiles (all
    six real codecs incl. JPEG + VP8L), hexagonal zones over the city
    clusters — tile-assign (codegen) → decode+pixel-mask in ONE Arrow
    pass (bbox prefilter skips far tiles before decode) → one agg
    shuffle of per-(zone, tile) integer partials.  The corpus is
    synthesized ONCE to parquet (like planet_ingest's bz2 file) so the
    measurement is the operator — scan, decode, mask, agg — not the
    VP8L/JPEG encoders."""
    from osm2geojson_spark import pyref
    from osm2geojson_spark.spatial.zonal import zonal_stats
    from osm2geojson_spark.synth.images import FMTS_ALL, images_table

    imgs = _cached_parquet(
        spark, ZONAL_PARQUET,
        lambda: images_table(spark, n=4000, seed=42, fmts=FMTS_ALL)
    ).repartition(32)
    zones = spark.createDataFrame(
        [(zid, [{"lon": x, "lat": y} for x, y in ring])
         for zid, ring in pyref.ref_zones(8)],
        "zone_id string, ring array<struct<lon:double,lat:double>>")
    return zonal_stats(imgs, zones, zoom=6)


def str_pack_full(spark, sf_dir):
    """STR R-tree bulk packing over ALL 600k lineitem-derived int-lattice
    points (leaf capacity 512, 256 x-rank value buckets) → leaf MBR
    directory. The one count() is the layout op's real contract (exact n
    up front); the rank itself never single-tasks."""
    from osm2geojson_spark.spatial.strpack import str_leaves, str_pack

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    pts = li.select(
        key.alias("id"),
        ((key * F.lit(2654435761)) % F.lit(360_000_000)).alias("x"),
        ((key * F.lit(2246822519) + F.lit(1013904223))
         % F.lit(170_000_000)).alias("y"))
    n = pts.count()
    assigned = str_pack(pts, n, leaf_capacity=512,
                        x_bucket=F.expr("x div 1406250"))
    return str_leaves(assigned)


BENCH_QUERIES = {
    "spatial_pipeline": spatial_pipeline,
    "osm_assembly": osm_assembly,
    "tile_assign_full": tile_assign_full,
    "s2_encode_full": s2_encode_full,
    "planet_ingest": planet_ingest,
    "pricing_summary": Q.q_pricing_summary,
    "star_join": Q.q_star_join,
    "way_assembly": Q.q_way_assembly,
    "cogroup_join": Q.q_cogroup_join,
    "window_topk": Q.q_window_topk,
    "sessionize": Q.q_sessionize,
    "text_stats": Q.q_text_stats,
    "minhash_pairs": Q.q_minhash_pairs,
    "embedding_topk": Q.q_embedding_topk,
    "knn_ring": Q.q_knn_ring,
    "vocab_topk": Q.q_vocab_topk,
    "asof_join": Q.q_asof_join,
    "zonal_stats": zonal_stats_full,
    # round-3 additions: corpus hygiene (broadcast bench-gram join over
    # the full documents table), the GeoJSON emit→parse round trip,
    # PQ compressed-domain ANN, and per-user trajectory reconstruction
    "decontaminate": Q.q_decontaminate,
    "geojson_roundtrip": Q.q_geojson_roundtrip,
    "embedding_pq": Q.q_embedding_pq,
    "trajectory_stats": Q.q_trajectory_stats,
    "trip_segmentation": Q.q_trip_segmentation,
    # late round 3: ping→segment map matching (cell-prefiltered candidate
    # join) and vector→raster PNG tile rendering
    "map_match": Q.q_map_match,
    "heatmap_tiles": Q.q_heatmap_tiles,
    # late round 3 (2nd half): protobuf vector-tile rendering (the MVT
    # twin of heatmap_tiles — same map-side pixel collapse, different
    # serializer). Routing stays out of the headline (driver-round
    # latency on a 576-node grid measures nothing); its scale evidence
    # lives in `bench.py --sweep route` + BENCH.md.
    "vector_tiles": Q.q_vector_tiles,
    "heatmap_pyramid": Q.q_heatmap_pyramid,
    # round 4: LINESTRING tiles — trajectories clipped per tile with the
    # exact integer Liang–Barsky and re-chained into MVT polylines
    "line_tiles": Q.q_line_tiles,
    # round 4: POLYGON tiles — integer Sutherland–Hodgman clipping +
    # spec winding, completing the MVT point/line/polygon triple
    "polygon_tiles": Q.q_polygon_tiles,
    # round 4: focal raster — Horn hillshade over a 1M-pixel tiled DEM
    # through the halo-exchange shuffle (256 tiles x 64^2 + edge strips)
    "hillshade_dem": _hillshade_dem,
    # round 4 fourth wave: crawl-URL canonicalize+dedup (pure codegen
    # string chain, one shuffle) and overlapping chunk windows (pure
    # map-side generator) over the sf0.1 documents table
    "url_dedup": Q.q_url_dedup,
    "chunk_windows": Q.q_chunk_windows,
    # round 4 fifth wave: ranked retrieval (ratio-BM25 — corpus-sized
    # token scan, everything downstream broadcast/doc-keyed) and STR
    # R-tree bulk packing over the full 600k-point set (distributed
    # global rank via monotone value buckets, no single-task window)
    "bm25_topk": Q.q_bm25_topk,
    "str_pack": str_pack_full,
    # round 4 sixth wave: the ANALYZE surface — one agg pass computing
    # exact distinct/null/min-max for all 11 lineitem columns (the
    # count-distinct expand is the honest cost; scales with sf)
    "table_profile": Q.q_table_profile,
    # round 4 seventh wave: the integral-image pipeline (block-
    # decomposed SAT + O(1)/px box filter) and GLCM texture counts,
    # both over the 1M-pixel DEM the hillshade entry uses
    "box_filter_1m": _box_filter_1m,
    "glcm_1m": _glcm_1m,
    # round 5: exact segment-segment intersection self-join over 100k
    # int64 segments (cell-cover candidates + orientation tests, pure
    # codegen) and Spearman rank correlation over the full lineitem
    # (distributed histogram-cumsum midranks — no global row sort)
    "segment_intersections": Q.q_segment_intersections,
    "spearman": Q.q_spearman,
    # round 5 second session: the graft cell's geospatial×image
    # flagship (decode → thumbnail → tile-straddle explode → one
    # groupBy(tile) mean-blend kernel) and exact Kendall tau-b on the
    # full lineitem (equidepth block inclusion–exclusion — no n² join)
    "geo_mosaic": _geo_mosaic_bench,
    "kendall": _kendall_full,
}


# --- sweeps ---------------------------------------------------------------
#
# A family answers one scaling question: ``(spark, size) -> {op: (build,
# info)}``. ``build()`` returns the frame that ``timed`` runs to the noop
# sink. ``info`` is stamped into the op's record after the timing: a
# ``stats`` dict the build fills (``rounds``), a check's result, and a
# ``rows``/``edges`` count that becomes ``rows_per_sec``/``edges_per_sec``.
# Setup (synthesis, persisted inputs, checks) runs in the family call.


def _cached_parquet(spark, path, make):
    """Synthesize ``make()`` to ``path`` once per host (renamed into
    place, so a crash leaves no partial input) and read it back."""
    if not os.path.exists(path):
        make().write.mode("overwrite").parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
    return spark.read.parquet(path)


def _spread_sources(w: int, k: int) -> list[int]:
    """``k`` depots on an isqrt(k)² lattice spread over a width-``w``
    grid: ``k`` concurrent wavefronts, the catchment / nearest-facility
    shape (a single source's wavefront only spans ~2·√B blocks at once,
    which a few cores already saturate)."""
    side = math.isqrt(k)
    step = w // (side + 1)
    return [(iy + 1) * step * w + (ix + 1) * step
            for iy in range(side) for ix in range(side)]


def sweep_scaling(spark, n):
    """North-star job (BASELINE.json north_rule) over ``n`` images: read
    the image+caption parquet → per-row decode/PSNR/phash validation →
    quarantine split → broadcast PIP → shuffle-free tile assignment →
    per-(poly, tile) rollup. On one host "N vs 4N executors" is the same
    job at two local levels on identical input.
    ``base4`` is the round-1/2-comparable 4-format mix; ``all6`` the full
    6-codec rotation (real JPEG + WebP/VP8L decode in the hot path)."""
    from osm2geojson_spark.operators.images import (
        quarantine_split,
        validate_images,
    )
    from osm2geojson_spark.synth.images import FMTS, FMTS_ALL, images_table

    region = spark.read.parquet(f"{SF_DIR}/region.parquet")

    def job(fmts, tag):
        imgs = _cached_parquet(
            spark, f"/tmp/images_scale_{n}{tag}.parquet",
            lambda: images_table(spark, n=n, seed=42, fmts=fmts,
                                 partitions=64))

        def build():
            good, _bad = quarantine_split(validate_images(imgs))
            pts = imgs.select("image_id", "lon", "lat").join(
                good.select("image_id"), "image_id")
            hits = point_in_polygon_join(pts, Q.region_boxes(region), res=7)
            return TI.assign_tiles(hits, zoom=7).groupBy(
                "poly_id", "tile_id").agg(
                F.count("*").alias("n"), F.min("image_id").alias("first"))
        return build, {"rows": n}

    return {"base4": job(FMTS, ""), "all6": job(FMTS_ALL, "_all")}


#: expander multipliers: dst_i = (src·a_i + b_i) mod n
_EXPANDER = ((3, 17), (5, 29), (7, 43), (11, 59),
             (13, 71), (17, 89), (19, 101), (23, 113))


def sweep_route(spark, n):
    """Frontier SSSP on an ``n``-node 8-out-degree EXPANDER. Graph shape
    matters for what this measures: a GRID graph's diameter grows with
    sqrt(V), so rounds (driver latency) would dominate and say nothing
    about scale. The expander has O(log n) diameter, so wall-clock is the
    per-round frontier⋈edges join + min partial-agg over 8n edges — the
    part that distributes; that is also the planet-road-graph regime
    after contraction hierarchies (few rounds, fat frontiers). Weights
    stay in 1..3: a wide range multiplies the rounds the same way."""
    from osm2geojson_spark.spatial.route import shortest_paths

    offs = F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                     for a, b in _EXPANDER])
    edges = (spark.range(n)
             .select(F.col("id").alias("src"), F.explode(offs).alias("o"))
             .select("src", ((F.col("src") * F.col("o.a") + F.col("o.b"))
                             % n).alias("dst"))
             .where(F.col("src") != F.col("dst"))
             .select("src", "dst",
                     (1 + (F.col("src") * 73856093
                           + F.col("dst") * 19349663) % 3)
                     .cast("long").alias("w")))
    info = {"edges": n * 8}
    return {"sssp": (lambda: shortest_paths(edges, 0, max_iters=64,
                                            stats=info), info)}


def frontier_rounds_analytic(n: int) -> int:
    """Rounds frontier Bellman-Ford (``spatial.route.shortest_paths``)
    needs on the width-``n`` ``grid_edges`` graph, without running it:
    a hop-tracking heap Dijkstra settling on lexicographic (dist, hops)
    gives the hop count BF needs to deliver each node's final distance;
    rounds = max + 1 for the empty convergence round. At width 1000 that
    is ~2,000 barriers (~10 min), so running it is the ceiling itself."""
    _WA, _WB, _WMOD = 73856093, 19349663, 9
    dist = [None] * (n * n)
    heap = [(0, 0, 0)]  # (dist, hops, node)
    max_hops = 0
    while heap:
        d, h, u = heapq.heappop(heap)
        if dist[u] is not None:
            continue
        dist[u] = d
        max_hops = max(max_hops, h)
        ix, iy = u % n, u // n
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            jx, jy = ix + dx, iy + dy
            if 0 <= jx < n and 0 <= jy < n:
                v = jy * n + jx
                if dist[v] is None:
                    w = 1 + (u * _WA + v * _WB) % _WMOD
                    heapq.heappush(heap, (d + w, h + 1, v))
    return max_hops + 1


def sweep_grid_route(spark, n):
    """Routing ROUND-BARRIER evidence on a width-``n`` weighted grid, the
    high-diameter regime where frontier SSSP is flat in cores: Δ-stepping
    block fusion relaxes each k×k block to its local fixpoint per
    barrier. ``frontier_rounds_analytic`` is the Bellman-Ford round count
    it is measured against. ``matrix16_8x8`` is the 16-depot travel
    matrix, the shape whose kernel work spans all cores."""
    from osm2geojson_spark.spatial.route import (
        grid_block_part,
        grid_edges,
        shortest_paths_delta,
        travel_time_matrix_delta,
    )

    edges = grid_edges(spark, n)
    bf_rounds = frontier_rounds_analytic(n)

    def op(k, n_src):
        block = -(-n // k)  # k×k blocks: width 1000 → 63 and 125
        part = grid_block_part(n, block)
        info = {"block": block, "n_sources": n_src,
                "frontier_rounds_analytic": bf_rounds}
        if n_src == 1:
            return (lambda: shortest_paths_delta(
                edges, 0, part=part, stats=info)), info
        sources = _spread_sources(n, n_src)
        return (lambda: travel_time_matrix_delta(
            edges, sources, part=part, stats=info)), info

    return {"sssp_16x16": op(16, 1), "sssp_8x8": op(8, 1),
            "matrix16_8x8": op(8, 16)}


def sweep_hydro(spark, side):
    """Raster-iterative ops on a ``side``² DEM, whose 100 TB story rests
    on ROUND SHAPE, not just per-round parallelism:
    - watershed pointer doubling: rounds = ceil(log2(longest flow
      path)), bounded by the DEM's elevation range, so ~3 rounds at any
      size; each round is one size-n equi-join.
    - cost distance: Δ-stepping with one block per tile; rounds =
      O(diameter in blocks), the per-block Dijkstra is the kernel.
    - costmatrix{16,64}: k-source cost matrices; the full-relax mode
      parallelizes over sources, so scaling past N cores needs ≥ N
      sources."""
    from osm2geojson_spark.spatial.focal import (
        cost_distance,
        cost_edges,
        focal_op,
        synth_dem_tiles,
        watershed_basins,
    )
    from osm2geojson_spark.spatial.route import (
        grid_block_part,
        travel_time_matrix_delta,
    )

    t = min(128, side // 4)  # 128-px tiles; 4×4 of 64 px at 256²
    tiles = persist(synth_dem_tiles(spark, side // t, side // t, t))
    tiles.count()
    dirs = persist(focal_op(tiles, op="flowdir8", tile_size=t))
    dirs.count()
    ws = {}
    ops = {"watershed": (lambda: watershed_basins(dirs, t, side, side,
                                                  stats=ws), ws)}
    # the single wavefront already takes ~40 s per rep at 1M px, and a
    # k-source matrix there minutes (BENCH.md round 4): each is measured
    # where it stays tractable
    if side <= 1024:
        ops["cost"] = (lambda: cost_distance(tiles, t, side, side,
                                             source=0), {})
    if side <= 512:
        for k in (16, 64):
            info = {"n_sources": k}
            ops[f"costmatrix{k}"] = (
                lambda k=k, info=info: travel_time_matrix_delta(
                    cost_edges(tiles, t, side, side),
                    _spread_sources(side, k), part=grid_block_part(side, t),
                    src_groups=k, stats=info), info)
    return ops


def sweep_raster(spark, side):
    """sf1-tier evidence for the raster family: SAT box filter, GLCM,
    NCC template matching and the L1 distance transform on a ``side``²
    DEM — does the halo/SAT shuffle bound hold one decade up (≤ ~12×
    cost for 10× data)? Same ``synth_dem_tiles`` substrate as the
    headline (the scan is never the variable under test); tile 128 so
    the per-tile Arrow kernels stay batch-efficient at every size."""
    import numpy as np

    from osm2geojson_spark.spatial.dt import distance_transform
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.ncc import match_template_tiles
    from osm2geojson_spark.spatial.sat import (
        box_filter_tiles,
        integral_image_tiles,
    )
    from osm2geojson_spark.spatial.texture import glcm_tiles

    t, nt = 128, side // 128
    tiles = persist(synth_dem_tiles(spark, nt, nt, t))
    tiles.count()
    mask = tiles.select("tx", "ty", F.transform(
        "data", lambda v: (v >= 90).cast("long")).alias("data"))
    dy, dx = np.mgrid[0:4, 0:4]
    return {
        "box": (lambda: box_filter_tiles(
            integral_image_tiles(tiles, t), t, 5, nt, nt), {}),
        "glcm": (lambda: glcm_tiles(tiles, t, nt, nt, levels=16, lo=0,
                                    hi=106), {}),
        "ncc": (lambda: match_template_tiles(tiles, t, 1 + dx + 2 * dy,
                                             nt, nt), {}),
        "dt": (lambda: distance_transform(mask, t, side, side), {}),
    }


def sweep_spatial(spark, n):
    """The spatial renderers at ``n`` synthetic pings — does the
    tiles×extent² shuffle bound hold (≤ ~12× cost for 10× data)? Pings
    come from ``spark.range`` with the headline's int-derived lon/lat (no
    file scan in the loop). 600k is the sf0.1 headline shape at zoom 3;
    each decade of pings goes one zoom deeper (4× tiles), so per-tile
    render work per point stays comparable. ``zonal_stats`` runs over
    n/2500 images (240 at 600k)."""
    from osm2geojson_spark import pyref
    from osm2geojson_spark.spatial.heatmap import heatmap_tiles, overview_tiles
    from osm2geojson_spark.spatial.mvt import vector_tiles
    from osm2geojson_spark.spatial.zonal import zonal_stats
    from osm2geojson_spark.synth.images import FMTS_ALL, images_table

    res = 3 + round(math.log10(n / 600_000))
    pts = spark.range(n).select(Q.lon_col(F.col("id")).alias("lon"),
                                Q.lat_col(F.col("id")).alias("lat"))
    zones = spark.createDataFrame(
        [(zid, [{"lon": x, "lat": y} for x, y in ring])
         for zid, ring in pyref.ref_zones(3)],
        "zone_id string, ring array<struct<lon:double,lat:double>>")
    return {
        "heatmap_tiles": (lambda: heatmap_tiles(pts, res=res, tile_px=64),
                          {}),
        "vector_tiles": (lambda: vector_tiles(pts, res=res, extent=4096),
                         {}),
        "heatmap_pyramid": (lambda: overview_tiles(
            heatmap_tiles(pts, res=res, tile_px=64), tile_px=64), {}),
        "zonal_stats": (lambda: zonal_stats(
            images_table(spark, n=n // 2500, seed=42, fmts=FMTS_ALL),
            zones, zoom=6), {}),
    }


def sweep_strpack(spark, n):
    """STR layout at ``n`` points: bucketed global x-rank → per-slice
    y-rank → leaf MBR directory (capacity 512), against the NAIVE
    single-window rank (``Window.orderBy`` with no partition key = ONE
    task), the ceiling the bucketed rank removes. Bucketed == naive rank
    is checked on a 50k-point sample before timing."""
    from pyspark.sql import Window

    from osm2geojson_spark.spatial.strpack import (
        global_rank,
        str_leaves,
        str_pack,
    )

    def pts(m):
        return spark.range(m).select(
            F.col("id"),
            ((F.col("id") * F.lit(2654435761)) % F.lit(360_000_000))
            .alias("x"),
            ((F.col("id") * F.lit(2246822519) + F.lit(1013904223))
             % F.lit(170_000_000)).alias("y"))

    x_bucket = F.expr("x div 1406250")
    naive = Window.orderBy("x", "id")
    bucketed = {r.id: r.rank for r in global_rank(
        pts(50_000), ["x", "id"], x_bucket).where("id % 997 = 0").collect()}
    single = {r.id: r.rank for r in pts(50_000)
              .withColumn("rank", F.row_number().over(naive))
              .where("id % 997 = 0").collect()}
    if bucketed != single:
        raise AssertionError("bucketed rank diverged from naive rank")
    return {
        "bucketed": (lambda: str_leaves(str_pack(
            pts(n), n, leaf_capacity=512, x_bucket=x_bucket)),
            {"rank_parity": "ok"}),
        "naive_single_window": (lambda: pts(n)
                                .withColumn("rank",
                                            F.row_number().over(naive))
                                .groupBy(F.expr("(rank - 1) div 512")
                                         .alias("leaf"))
                                .agg(F.count(F.lit(1)).alias("n")), {}),
    }


# dedup family: scale 1 = the sf0.1 documents / embeddings sizes
BASE_DOCS = 5_000
BASE_VECS = 2_000
GROUP_EVERY = 100     # docs i with i%GROUP_EVERY < GROUP_SIZE form a group
GROUP_SIZE = 5
SPIKE_EVERY = 200     # docs with i%SPIKE_EVERY == 199 share boilerplate
DIM = 64
CAP = 100             # max_bucket_size: > group buckets, < spike buckets

_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark line sort window join group filter map shuffle plan codegen "
          "broadcast skew salt bucket probe build spill page cache block "
          "column vector arrow batch stage task core executor driver the a").split()

_BOILER = " ".join(_WORDS[(7 * i) % len(_WORDS)] for i in range(45))


def synth_docs(spark, n: int):
    """xxhash64-mixed random docs + planted groups + boilerplate spike.
    Group members share a 45-token body keyed on the group id; spike
    docs share ONE global boilerplate. Unique suffix tokens keep every
    doc distinct (near-dup, not exact-dup). (A linear congruential
    pattern here creates cross-doc correlations that swamp the planted
    structure.)"""
    gid = (F.col("doc_id") / GROUP_EVERY).cast("long")
    in_group = F.pmod(F.col("doc_id"), F.lit(GROUP_EVERY)) < GROUP_SIZE
    in_spike = F.pmod(F.col("doc_id"), F.lit(SPIKE_EVERY)) == SPIKE_EVERY - 1

    def toks(seed_col, count):
        return F.transform(
            F.sequence(F.lit(0), F.lit(count - 1)),
            lambda j: F.element_at(
                F.array(*[F.lit(w) for w in _WORDS]),
                F.pmod(F.xxhash64(seed_col, j), F.lit(len(_WORDS)))
                .cast("int") + 1))

    body_group = F.concat_ws(" ", toks(gid * 7919 + 13, 45))
    body_rand = F.concat_ws(" ", toks(F.col("doc_id"), 50))
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit("u"),
                        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(i)),
                               F.lit(99991)).cast("string"))
               for i in range(2)])
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(in_spike, F.concat(F.lit(_BOILER), F.lit(" "), uniq))
        .when(in_group, F.concat(body_group, F.lit(" "), uniq))
        .otherwise(body_rand).alias("text"),
    )


def synth_vecs(spark, n: int):
    """xxhash64-mixed random vectors + a 0.5% spike of near-identical
    vectors (tiny per-id perturbation of one base = true near-dups)."""
    in_spike = F.pmod(F.col("vec_id"), F.lit(SPIKE_EVERY)) == SPIKE_EVERY - 1
    base = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: ((F.pmod(F.xxhash64(F.col("vec_id"), j), F.lit(100_000))
                    - 50_000) / 50_000.0).cast("float"))
    hot = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (F.lit(0.5)
                   + (F.pmod(F.xxhash64(F.col("vec_id"), j), F.lit(1000))
                      / 1e6)).cast("float"))
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when(in_spike, hot).otherwise(base).alias("embedding"),
    )


def sweep_dedup(spark, scale):
    """The dedup family at ``scale``× the sf0.1 sizes (1, 10, 100 ≈ sf0.1,
    sf1, sf10) with TWO planted structures:
    - dup GROUPS (the signal): 5% of docs in 5-member near-duplicate
      groups; their pairs must survive dedup at every scale
      (``surviving_group_pairs``);
    - a boilerplate SPIKE (the skew): 0.5% of docs share one 45-token
      boilerplate, the hot LSH bucket that makes the uncapped self-join
      quadratic; the ``max_bucket_size`` cap must neutralize it WITHOUT
      touching the group pairs.
    Embeddings get the analogous spike (0.5% near-identical vectors)."""
    from osm2geojson_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
    )
    from osm2geojson_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    n_docs, n_vecs = BASE_DOCS * scale, BASE_VECS * scale
    tmp = "/tmp/spark_graft_dedup_scale"
    docs = _cached_parquet(spark, f"{tmp}/docs_{scale}.parquet",
                           lambda: synth_docs(spark, n_docs).repartition(32))
    vecs = _cached_parquet(spark, f"{tmp}/vecs_{scale}.parquet",
                           lambda: synth_vecs(spark, n_vecs).repartition(32))
    pairs = persist(minhash_lsh_pairs(docs, max_bucket_size=CAP)
                    .filter(F.col("jaccard") >= 0.5).select("id_a", "id_b"))
    n_pairs = pairs.count()
    ops = {"minhash_pairs_capped": (
        lambda: minhash_lsh_pairs(docs, max_bucket_size=CAP),
        {"rows": n_docs})}
    if scale <= 10:
        # uncapped: the hot clique grows quadratically with scale — run
        # only where it stays tractable, to show what the cap prevents
        ops["minhash_pairs_uncapped"] = (lambda: minhash_lsh_pairs(docs),
                                         {"rows": n_docs})
    ops["dup_clusters"] = (lambda: dup_clusters(pairs),
                           {"rows": n_docs, "surviving_group_pairs": n_pairs})
    ops["embedding_near_dup"] = (
        lambda: embedding_near_dup_pairs(vecs, threshold=0.95, dim=DIM,
                                         max_bucket_size=5000),
        {"rows": n_vecs})
    return ops


#: family → (function, default sizes, runs each level in its own JVM)
SWEEPS = {
    "scaling": (sweep_scaling, [200_000], True),
    "route": (sweep_route, [200_000], True),
    "grid_route": (sweep_grid_route, [200, 1000], True),
    "hydro": (sweep_hydro, [512, 1024], True),
    "raster": (sweep_raster, [1024, 2048, 4096], False),
    "spatial": (sweep_spatial, [600_000, 6_000_000], False),
    "strpack": (sweep_strpack, [600_000, 2_400_000, 9_600_000], True),
    "dedup": (sweep_dedup, [1, 10, 100], False),
}

# --- harness --------------------------------------------------------------

NPROC = len(os.sched_getaffinity(0))
#: scaling levels N and 4N, from the host: one host stands in for a
#: cluster, and more threads than cores measures oversubscription
LEVELS = sorted({max(1, NPROC // 4), NPROC})
#: load gate (r4 verdict item 5): above half the cores of 1-min/5-min
#: load at launch the numbers are neighbour noise, not plan cost. At
#: finish the run's own ≤ nproc tasks are still in the average, hence
#: 1.5 × nproc. A run over either gate still completes but self-flags
#: ``"contaminated": true`` so no one re-bases on it (the host's burst
#: pattern is "clean at launch, dirty by finish", BENCH.md).
LAUNCH_GATE, FINISH_GATE = 0.5 * NPROC, 1.5 * NPROC


def contaminated(load_start, load_end) -> bool:
    return (max(load_start[:2]) > LAUNCH_GATE
            or max(load_end[:2]) > FINISH_GATE)


def timed(spark, build) -> list[float]:
    """Run ``build()`` to the noop sink once as a discarded warm-up
    (JVM, codegen, Python UDF workers), then ``REPEAT`` timed times.
    Each run is its own ``owned`` block, released outside the timing: no
    run reads a cache an earlier run left, and frames that persist
    internally do not GC-pressure later ops (a 28-query session
    otherwise degraded its tail by 2-4x even in a quiet window)."""
    reps = []
    for _ in range(REPEAT + 1):
        with owned(spark):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
    return reps[1:]


def run_sweep(name: str, sizes: list[int]) -> list[dict]:
    """Every op of family ``name`` at each size, in this process; prints
    and returns one record per (op, size)."""
    spark = get_spark(f"bench-{name}")
    level = spark.sparkContext.defaultParallelism
    recs = []
    for size in sizes:
        with owned(spark):
            for op, (build, info) in SWEEPS[name][0](spark, size).items():
                load_start = os.getloadavg()
                reps = timed(spark, build)
                best, load_end = min(reps), os.getloadavg()
                rec = {"family": name, "op": op, "size": size,
                       "level": level, "nproc": NPROC,
                       "reps": [round(r, 3) for r in reps],
                       "best": round(best, 3), **info}
                for unit in ("rows", "edges"):
                    if unit in info:
                        rec[f"{unit}_per_sec"] = round(info[unit] / best)
                rec.update(load_start=load_start, load_end=load_end)
                print(json.dumps(rec), flush=True)
                recs.append(rec)
    return recs


def derive(name: str, recs: list[dict]) -> list[dict]:
    """Cost ratios between consecutive sizes at each level, and speedup
    and scaling efficiency between the lowest and highest level."""
    best = {(r["op"], r["size"], r["level"]): r["best"] for r in recs}
    sizes = sorted({r["size"] for r in recs})
    levels = sorted({r["level"] for r in recs})
    out = []
    for op in dict.fromkeys(r["op"] for r in recs):
        for lv in levels:
            have = [s for s in sizes if (op, s, lv) in best]
            out += [{"family": name, "op": op, "level": lv,
                     "from_size": a, "to_size": b,
                     "data_ratio": round(b / a, 2),
                     "cost_ratio": round(best[op, b, lv] / best[op, a, lv], 2)}
                    for a, b in zip(have, have[1:])]
        lo, hi = levels[0], levels[-1]
        for s in sizes:
            if lo < hi and (op, s, lo) in best and (op, s, hi) in best:
                speedup = best[op, s, lo] / best[op, s, hi]
                out.append({"family": name, "op": op, "size": s,
                            "levels": [lo, hi], "speedup": round(speedup, 2),
                            "efficiency": round(speedup / (hi / lo), 3)})
    return out


def sweep(name: str, sizes: list[int]) -> None:
    """``bench.py --sweep``: one record per (op, size, level), then the
    derived ratios and the run's load gate. A scaling family runs each of
    ``LEVELS`` in a fresh JVM — this script again, with
    ``SPARK_GRAFT_CPUS=<level>`` — unless ``SPARK_GRAFT_CPUS`` already
    names the one level to run."""
    _, defaults, scales = SWEEPS[name]
    sizes = sizes or defaults
    load_start = os.getloadavg()
    if not scales or "SPARK_GRAFT_CPUS" in os.environ:
        recs = run_sweep(name, sizes)
    else:
        recs = []
        for level in LEVELS:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--sweep", name,
                 *map(str, sizes)],
                env={**os.environ, "SPARK_GRAFT_CPUS": str(level)},
                stdout=subprocess.PIPE, text=True, check=True).stdout
            for line in out.splitlines():
                if line.startswith("{") and '"best"' in line:
                    print(line, flush=True)
                    recs.append(json.loads(line))
    for d in derive(name, recs):
        print(json.dumps(d))
    load_end = os.getloadavg()
    print(json.dumps({"family": name, "nproc": NPROC,
                      "loadavg_start": load_start, "loadavg_end": load_end,
                      "contaminated": contaminated(load_start, load_end)}))


def headline(only: set[str]) -> None:
    load_start = os.getloadavg()
    spark = get_spark("bench")
    n_points = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    timings: dict[str, float] = {}
    for name, fn in BENCH_QUERIES.items():
        if only and name not in only:
            continue
        # min = steady-state plan cost (excludes one-off codegen/GC noise)
        timings[name] = round(
            min(timed(spark, functools.partial(fn, spark, SF_DIR))), 3)

    total = round(sum(timings.values()), 3)
    spatial_sec = timings.get("spatial_pipeline")
    load_end = os.getloadavg()
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "nproc": NPROC,
        "n_points": n_points,
        "spatial_rows_per_sec": round(n_points / spatial_sec) if spatial_sec else None,
        "loadavg_start": list(load_start),
        "loadavg_end": list(load_end),
    }
    if contaminated(load_start, load_end):
        out["contaminated"] = True
        out["contamination_note"] = (
            f"1-min/5-min load exceeded {LAUNCH_GATE} at launch or "
            f"{FINISH_GATE} at finish (noisy-neighbor host); treat timings "
            "as upper bounds, do not re-base — see BENCH.md adjudication "
            "discipline")
    print(json.dumps(out))


def main() -> None:
    args = sys.argv[1:]
    if args[:1] != ["--sweep"]:
        return headline(set(args))
    if len(args) < 2 or args[1] not in SWEEPS:
        sys.exit(f"usage: bench.py --sweep {{{','.join(SWEEPS)}}} [SIZE ...]")
    sweep(args[1], [int(s) for s in args[2:]])


if __name__ == "__main__":
    main()

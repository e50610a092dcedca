"""Distributed routing (spatial/route): SSSP == heap Dijkstra
(independent algorithm), deterministic predecessor tree, pointer-
doubling route reconstruction, isochrone rollup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark import pyref
from osm2geojson_spark.spatial.route import (
    grid_edges,
    isochrone_bands,
    reconstruct_route,
    route_predecessors,
    shortest_paths,
)


def _edges_df(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w long")


def test_hand_line_graph(spark):
    # 0 -5-> 1 -2-> 2, plus a worse direct 0 -9-> 2
    e = _edges_df(spark, [(0, 1, 5), (1, 2, 2), (0, 2, 9)])
    got = dict(
        (r.node_id, r.dist) for r in shortest_paths(e, 0).collect())
    assert got == {0: 0, 1: 5, 2: 7}


def test_unreachable_absent_and_directedness(spark):
    # 3 is upstream of the source (edge INTO 0 only) -> absent
    e = _edges_df(spark, [(0, 1, 1), (3, 0, 1)])
    got = dict(
        (r.node_id, r.dist) for r in shortest_paths(e, 0).collect())
    assert got == {0: 0, 1: 1}


def test_later_improvement_reexpands(spark):
    # the 1-hop path to 2 (w=10) must be beaten by the 3-hop path (w=3),
    # and 2's improvement must re-relax the edge 2->4
    e = _edges_df(
        spark,
        [(0, 2, 10), (0, 1, 1), (1, 3, 1), (3, 2, 1), (2, 4, 1)],
    )
    got = dict(
        (r.node_id, r.dist) for r in shortest_paths(e, 0).collect())
    assert got[2] == 3 and got[4] == 4


def test_negative_weight_rejected(spark):
    with pytest.raises(ValueError):
        shortest_paths(_edges_df(spark, [(0, 1, -1)]), 0)


def test_nonconvergence_raises(spark):
    from osm2geojson_spark.spatial.route import (
        matrix_update,
        travel_time_matrix,
    )

    e = _edges_df(spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1)])
    with pytest.raises(RuntimeError, match="did not converge"):
        shortest_paths(e, 0, max_iters=2)
    # the same loop keyed (src, id): cold matrix, and a reseed whose
    # improvement needs two more hops than max_iters allows
    with pytest.raises(RuntimeError, match="did not converge"):
        travel_time_matrix(e, [0], max_iters=2)
    faster = _edges_df(spark, [(0, 1, 0), (1, 2, 1), (2, 3, 1)])
    with pytest.raises(RuntimeError, match="did not converge"):
        matrix_update(faster, travel_time_matrix(e, [0]),
                      _edges_df(spark, [(0, 1, 0)]), max_iters=1)


def test_grid_equals_dijkstra(spark):
    n = 12
    got = sorted(
        (r.node_id, r.dist)
        for r in shortest_paths(grid_edges(spark, n), 0).collect())
    assert got == pyref.ref_shortest_paths(n)


def test_grid_edges_match_pyref_graph(spark):
    n = 7
    got = sorted(
        (r.src, r.dst, r.w) for r in grid_edges(spark, n).collect())
    assert got == sorted(pyref.grid_graph(n))


def test_random_graphs_equal_dijkstra(spark):
    import random

    rng = random.Random(1234)
    for trial in range(3):
        nv = 30
        rows = []
        for _ in range(140):
            u, v = rng.randrange(nv), rng.randrange(nv)
            if u != v:
                rows.append((u, v, rng.randrange(0, 12)))
        got = sorted(
            (r.node_id, r.dist)
            for r in shortest_paths(_edges_df(spark, rows), 0).collect())
        assert got == sorted(pyref.dijkstra(rows, 0).items()), f"trial {trial}"


def test_route_reconstruction_grid(spark):
    n, target = 12, 12 * 12 - 1
    e = grid_edges(spark, n)
    dist = shortest_paths(e, 0).localCheckpoint(eager=True)
    pred = route_predecessors(e, dist)
    path = sorted(
        (r.pos, r.node_id)
        for r in reconstruct_route(pred, 0, target).collect())
    assert path == pyref.ref_route(n, 0, target)
    # positions contiguous, endpoints right
    assert [p for p, _ in path] == list(range(len(path)))
    assert path[0][1] == target and path[-1][1] == 0
    # consecutive hops are real edges and their weights sum to dist
    w = {(u, v): wt for u, v, wt in pyref.grid_graph(n)}
    hops = [(path[i + 1][1], path[i][1]) for i in range(len(path) - 1)]
    assert all(h in w for h in hops)
    d = dict((r.node_id, r.dist) for r in dist.collect())
    assert sum(w[h] for h in hops) == d[target]


def test_route_source_is_target(spark):
    e = grid_edges(spark, 4)
    dist = shortest_paths(e, 0)
    pred = route_predecessors(e, dist)
    assert [(r.pos, r.node_id) for r in
            reconstruct_route(pred, 0, 0).collect()] == [(0, 0)]


def test_isochrone_bands(spark):
    e = grid_edges(spark, 8)
    dist = shortest_paths(e, 0)
    got = {
        r.band: (r.n_nodes, r.min_dist, r.max_dist)
        for r in isochrone_bands(dist, 10).collect()
    }
    ref: dict = {}
    for _, d in pyref.ref_shortest_paths(8):
        b = d // 10
        n0, lo, hi = ref.get(b, (0, d, d))
        ref[b] = (n0 + 1, min(lo, d), max(hi, d))
    assert got == ref


def test_travel_matrix_equals_per_source_dijkstra(spark):
    from osm2geojson_spark.spatial.route import travel_time_matrix

    n, sources = 10, [0, 99, 45]
    got = sorted(
        (r.src, r.node_id, r.dist)
        for r in travel_time_matrix(grid_edges(spark, n), sources).collect())
    assert got == sorted(pyref.ref_travel_matrix(n, sources))


def test_travel_matrix_row_equals_single_source(spark):
    from osm2geojson_spark.spatial.route import travel_time_matrix

    e = grid_edges(spark, 8)
    single = sorted(
        (r.node_id, r.dist) for r in shortest_paths(e, 7).collect())
    multi = sorted(
        (r.node_id, r.dist)
        for r in travel_time_matrix(e, [7, 56]).where("src = 7").collect())
    assert multi == single


def test_catchment_assignment(spark):
    from osm2geojson_spark.spatial.route import (
        catchment_assign,
        travel_time_matrix,
    )

    n, sources = 8, [0, 63]
    m = travel_time_matrix(grid_edges(spark, n), sources)
    got = sorted(
        (r.node_id, r.nearest_src, r.dist)
        for r in catchment_assign(m).collect())
    assert got == pyref.ref_catchment(n, sources)
    # every node assigned exactly once, sources assign to themselves
    assert len(got) == n * n
    assert (0, 0, 0) in got and (63, 63, 0) in got


def test_travel_matrix_negative_weight_rejected(spark):
    from osm2geojson_spark.spatial.route import travel_time_matrix

    with pytest.raises(ValueError):
        travel_time_matrix(_edges_df(spark, [(0, 1, -2)]), [0])


def test_isochrone_contour_rings_close(spark):
    from collections import Counter

    from osm2geojson_spark.queries import q_isochrone_contour

    segs = q_isochrone_contour(spark, "/root/testdata/sf0.001").collect()
    assert len(segs) > 0
    by_level: dict = {}
    for r in segs:
        by_level.setdefault(r.level, []).append(((r.x1, r.y1), (r.x2, r.y2)))
    assert set(by_level) == {-40, -80, -120}
    for level, ss in by_level.items():
        # marching-squares output forms closed loops: every endpoint has
        # even degree
        deg = Counter()
        for a, b in ss:
            deg[a] += 1
            deg[b] += 1
        assert all(d % 2 == 0 for d in deg.values()), level
    # smaller budget -> smaller (or equal) reachable area -> fewer or
    # equal boundary cells is NOT guaranteed, but the -120 ring must
    # exist and the -40 region is a subset: check via segment counts > 0
    assert all(len(ss) >= 4 for ss in by_level.values())


# ---------------------------------------------------------- Δ-stepping


def test_delta_grid_equals_dijkstra(spark):
    # fused block Dijkstra == independent heap Dijkstra, across the
    # fusion path (no delta), the bucketed path, and a locality-free
    # adversarial hash partitioning (degenerates toward frontier BF but
    # must stay exact)
    from osm2geojson_spark.spatial.route import (
        grid_block_part,
        shortest_paths_delta,
    )

    n = 20
    ref = sorted(pyref.dijkstra(pyref.grid_graph(n), 0).items())
    for kw in (
        dict(part=grid_block_part(n, 5)),
        dict(part=grid_block_part(n, 5), delta=12),
        dict(n_parts=7, delta=4),
        dict(n_parts=1),
    ):
        st = {}
        got = sorted(
            (r.node_id, r.dist)
            for r in shortest_paths_delta(
                grid_edges(spark, n), 0, stats=st, **kw).collect())
        assert got == ref, kw
        assert st["rounds"] >= 1


def test_delta_random_graphs_equal_dijkstra(spark):
    import random

    from osm2geojson_spark.spatial.route import shortest_paths_delta

    rng = random.Random(99)
    for trial in range(2):
        rows = []
        for _ in range(140):
            u, v = rng.randrange(30), rng.randrange(30)
            if u != v:
                rows.append((u, v, rng.randrange(0, 12)))
        got = sorted(
            (r.node_id, r.dist)
            for r in shortest_paths_delta(
                _edges_df(spark, rows), 0, n_parts=5, delta=3).collect())
        assert got == sorted(pyref.dijkstra(rows, 0).items()), f"trial {trial}"


def test_delta_round_reduction(spark):
    # the point of the operator: block fusion must need far fewer
    # barriers than one-hop frontier BF on the same grid
    from osm2geojson_spark.spatial.route import (
        grid_block_part,
        shortest_paths_delta,
    )

    n = 24
    st_bf, st_d = {}, {}
    shortest_paths(grid_edges(spark, n), 0, stats=st_bf).count()
    shortest_paths_delta(
        grid_edges(spark, n), 0, part=grid_block_part(n, 6),
        stats=st_d).count()
    assert st_d["rounds"] * 3 <= st_bf["rounds"], (st_d, st_bf)


def test_delta_guards(spark):
    from osm2geojson_spark.spatial.route import shortest_paths_delta

    with pytest.raises(ValueError, match="non-negative"):
        shortest_paths_delta(_edges_df(spark, [(0, 1, -1)]), 0)
    with pytest.raises(ValueError, match="delta"):
        shortest_paths_delta(_edges_df(spark, [(0, 1, 1)]), 0, delta=0)
    with pytest.raises(RuntimeError, match="did not converge"):
        shortest_paths_delta(
            _edges_df(spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1)]), 0,
            n_parts=4, max_rounds=1)


def test_travel_matrix_delta_equals_per_source_dijkstra(spark):
    from osm2geojson_spark.spatial.route import (
        grid_block_part,
        travel_time_matrix_delta,
    )

    n = 16
    srcs = [0, 37, n * n - 1]
    st = {}
    got = sorted(
        (r.src, r.node_id, r.dist)
        for r in travel_time_matrix_delta(
            grid_edges(spark, n), srcs, part=grid_block_part(n, 4),
            stats=st).collect())
    g = pyref.grid_graph(n)
    want = sorted(
        (s, node, d)
        for s in srcs for node, d in pyref.dijkstra(g, s).items())
    assert got == want
    assert st["rounds"] < 20  # fused: ~block diameter, not hop diameter


def test_travel_matrix_delta_adversarial_partitioning(spark):
    from osm2geojson_spark.spatial.route import travel_time_matrix_delta

    e = _edges_df(
        spark,
        [(0, 2, 10), (0, 1, 1), (1, 3, 1), (3, 2, 1), (2, 4, 1)],
    )
    got = sorted(
        (r.src, r.node_id, r.dist)
        for r in travel_time_matrix_delta(e, [0, 3], n_parts=3).collect())
    rows = [(0, 2, 10), (0, 1, 1), (1, 3, 1), (3, 2, 1), (2, 4, 1)]
    want = sorted(
        (s, node, d)
        for s in (0, 3) for node, d in pyref.dijkstra(rows, s).items())
    assert got == want

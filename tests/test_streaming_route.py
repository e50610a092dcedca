"""Streaming routing twin: SSSP maintained over micro-batches of edge
upserts == cold batch SSSP on the merged edge table (the batch==stream
pin the event/tile/MVT families already have)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark import pyref
from osm2geojson_spark.spatial.route import (
    grid_edges,
    shortest_paths,
    sssp_update,
)
from osm2geojson_spark.streaming.events import file_stream
from osm2geojson_spark.streaming.route import (
    EDGE_UPDATES_SCHEMA,
    sssp_stream_to_memory,
)

N = 12  # grid side; w(u,v) = 1 + (u*73856093 + v*19349663) % 9


def _write_batch(dirpath: str, fname: str, rows, mtime: int) -> None:
    tab = pa.table(
        {"src": pa.array([r[0] for r in rows], pa.int64()),
         "dst": pa.array([r[1] for r in rows], pa.int64()),
         "w": pa.array([r[2] for r in rows], pa.int64()),
         "seq": pa.array([r[3] for r in rows], pa.int64())})
    p = os.path.join(dirpath, fname)
    pq.write_table(tab, p)
    os.utime(p, (mtime, mtime))  # file source orders by modification time


def _apply_upserts(edges_rows, ups):
    m = {(u, v): w for u, v, w in edges_rows}
    for u, v, w, _seq in ups:
        m[(u, v)] = w
    return [(u, v, w) for (u, v), w in m.items()]


# batch 1: two weight decreases + a brand-new shortcut edge (all
# incremental-eligible); batch 2: a weight increase (cold fallback)
B1 = [(0, 1, 1, 1), (5, 6, 1, 2), (0, N * N - 1, 3, 3)]
B2 = [(0, 1, 9, 4)]


def test_sssp_update_matches_cold_batch(spark):
    base = pyref.grid_graph(N)
    merged = _apply_upserts(base, B1)
    e_new = spark.createDataFrame(merged, "src long, dst long, w long")
    d0 = shortest_paths(grid_edges(spark, N), 0)
    got = sorted(
        (r.node_id, r.dist)
        for r in sssp_update(
            e_new, d0,
            spark.createDataFrame(
                [(u, v, w) for u, v, w, _ in B1],
                "src long, dst long, w long"),
        ).collect())
    assert got == sorted(pyref.dijkstra(merged, 0).items())


def test_sssp_stream_incremental_batch(spark, tmp_path):
    d = str(tmp_path / "ups1")
    os.makedirs(d)
    _write_batch(d, "b0.parquet", B1, 1_700_000_000)
    stats = {}
    sssp_stream_to_memory(
        file_stream(spark, d, EDGE_UPDATES_SCHEMA, 1), grid_edges(spark, N), 0,
        "sssp_inc", stats=stats)
    assert stats == {"batches": 1, "incremental": 1, "cold": 0}
    got = sorted(
        (r.node_id, r.dist)
        for r in spark.table("global_temp.sssp_inc").collect())
    want = sorted(
        pyref.dijkstra(_apply_upserts(pyref.grid_graph(N), B1), 0).items())
    assert got == want
    # derived isochrone view matches a rollup of the same distances
    bands = {
        r.band: r.n_nodes
        for r in spark.table("global_temp.sssp_inc_bands").collect()}
    from collections import Counter

    ref_bands = Counter(dv // 10 for _nid, dv in want)
    assert bands == dict(ref_bands)


def test_sssp_stream_cold_fallback_on_increase(spark, tmp_path):
    d = str(tmp_path / "ups2")
    os.makedirs(d)
    _write_batch(d, "b0.parquet", B1, 1_700_000_000)
    _write_batch(d, "b1.parquet", B2, 1_700_000_100)
    stats = {}
    sssp_stream_to_memory(
        file_stream(spark, d, EDGE_UPDATES_SCHEMA, 1), grid_edges(spark, N), 0,
        "sssp_cold", stats=stats)
    assert stats == {"batches": 2, "incremental": 1, "cold": 1}
    got = sorted(
        (r.node_id, r.dist)
        for r in spark.table("global_temp.sssp_cold").collect())
    merged = _apply_upserts(_apply_upserts(pyref.grid_graph(N), B1), B2)
    assert got == sorted(pyref.dijkstra(merged, 0).items())


def test_sssp_stream_rejects_negative_weight(spark, tmp_path):
    d = str(tmp_path / "ups3")
    os.makedirs(d)
    _write_batch(d, "b0.parquet", [(0, 1, -1, 1)], 1_700_000_000)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises((ValueError, StreamingQueryException)):
        sssp_stream_to_memory(
            file_stream(spark, d, EDGE_UPDATES_SCHEMA, 1), grid_edges(spark, N), 0,
            "sssp_neg")


def test_catchment_stream_matches_batch(spark, tmp_path):
    from osm2geojson_spark.spatial.route import catchment_assign
    from osm2geojson_spark.streaming.route import catchment_stream_to_memory

    d = str(tmp_path / "ups4")
    os.makedirs(d)
    _write_batch(d, "b0.parquet", B1, 1_700_000_000)
    depots = [0, N * N - 1]
    stats = {}
    catchment_stream_to_memory(
        file_stream(spark, d, EDGE_UPDATES_SCHEMA, 1), grid_edges(spark, N), depots,
        "catch_inc", stats=stats)
    assert stats == {"batches": 1, "incremental": 1, "cold": 0}
    merged = _apply_upserts(pyref.grid_graph(N), B1)
    want_m = sorted(
        (s, node, dv)
        for s in depots for node, dv in pyref.dijkstra(merged, s).items())
    got_m = sorted(
        (r.src, r.node_id, r.dist)
        for r in spark.table("global_temp.catch_inc_matrix").collect())
    assert got_m == want_m
    # nearest-facility view: min(dist, src) tie rule
    best = {}
    for s, node, dv in want_m:
        cur = best.get(node)
        if cur is None or (dv, s) < cur:
            best[node] = (dv, s)
    got_c = {
        r.node_id: (r.dist, r.nearest_src)
        for r in spark.table("global_temp.catch_inc").collect()}
    assert got_c == best


def test_matrix_update_direct(spark):
    from osm2geojson_spark.spatial.route import (
        matrix_update,
        travel_time_matrix,
    )

    merged = _apply_upserts(pyref.grid_graph(N), B1)
    e_new = spark.createDataFrame(merged, "src long, dst long, w long")
    improving = spark.createDataFrame(
        [(u, v, w) for u, v, w, _ in B1], "src long, dst long, w long")
    depots = [0, 77]
    m0 = travel_time_matrix(grid_edges(spark, N), depots)
    got = sorted(
        (r.src, r.node_id, r.dist)
        for r in matrix_update(e_new, m0, improving).collect())
    want = sorted(
        (s, node, dv)
        for s in depots for node, dv in pyref.dijkstra(merged, s).items())
    assert got == want
    # one depot: the (src, id)-keyed update equals the id-keyed
    # sssp_update on the same improving edges, round for round
    st_m, st_s = {}, {}
    one = sorted(
        (r.node_id, r.dist)
        for r in matrix_update(
            e_new, travel_time_matrix(grid_edges(spark, N), [0]), improving,
            stats=st_m).collect())
    single = sorted(
        (r.node_id, r.dist)
        for r in sssp_update(
            e_new, shortest_paths(grid_edges(spark, N), 0), improving,
            stats=st_s).collect())
    assert one == single == sorted(pyref.dijkstra(merged, 0).items())
    assert st_m["rounds"] == st_s["rounds"]

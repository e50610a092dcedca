"""Streaming focal maintenance == cold batch recompute, with the
O(9·updated) re-render bound pinned by the stats dict."""

import os
import time

import numpy as np
import pytest

from osm2geojson_spark.spatial.focal import (
    dem_value_np,
    focal_op,
    synth_dem_tiles,
)
from osm2geojson_spark.streaming.events import file_stream
from osm2geojson_spark.streaming.raster import (
    TILE_UPDATES_SCHEMA,
    focal_stream_to_memory,
)

T, TX, TY = 16, 4, 3


def _write_batch(spark, path: str, seq: int, rows):
    df = spark.createDataFrame(
        [(tx, ty, data, seq) for tx, ty, data in rows],
        "tx long, ty long, data array<long>, seq long")
    df.coalesce(1).write.mode("append").parquet(path)
    # the file source orders by modification time; space the batches
    time.sleep(0.05)
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            os.utime(os.path.join(path, f), None)


@pytest.mark.parametrize("op", ["hillshade", "sum3"])
def test_stream_equals_cold_batch(spark, tmp_path, op):
    base = synth_dem_tiles(spark, TX, TY, T)
    path = str(tmp_path / f"ups_{op}")
    os.makedirs(path, exist_ok=True)

    flat = [0] * (T * T)
    bump = (np.arange(T * T, dtype=np.int64) % 97).tolist()
    _write_batch(spark, path, 1, [(1, 1, flat)])
    _write_batch(spark, path, 2, [(2, 0, bump), (0, 2, flat)])

    stats: dict = {}
    focal_stream_to_memory(
        spark, file_stream(spark, path, TILE_UPDATES_SCHEMA, 1), base,
        name=f"focal_{op}", op=op, tile_size=T, stats=stats)

    got = {(r["tx"], r["ty"]): tuple(r["data"]) for r in
           spark.table(f"global_temp.focal_{op}").collect()}

    # cold recompute over the SAME final tile set
    final = {(tx, ty): dem_value_np(
        tx * T + np.arange(T)[None, :],
        ty * T + np.arange(T)[:, None]).ravel().tolist()
        for ty in range(TY) for tx in range(TX)}
    final[(1, 1)] = flat
    final[(2, 0)] = bump
    final[(0, 2)] = flat
    cold_df = spark.createDataFrame(
        [(tx, ty, d) for (tx, ty), d in final.items()],
        "tx long, ty long, data array<long>")
    exp = {(r["tx"], r["ty"]): tuple(r["data"]) for r in
           focal_op(cold_df, op=op, tile_size=T).collect()}
    assert got == exp
    # batch 1 touched ONE tile -> at most 9 re-renders; batch 2 two
    # tiles -> at most 18; far below 2 full-raster recomputes (24)
    assert stats["batches"] == 2
    assert stats["tiles_recomputed"] <= 9 + 18
    assert stats["tiles_recomputed"] < stats["tiles_total"]


def test_new_tile_extends_the_grid(spark, tmp_path):
    base = synth_dem_tiles(spark, 2, 1, T)
    path = str(tmp_path / "ups_grow")
    os.makedirs(path, exist_ok=True)
    ramp = (np.arange(T * T, dtype=np.int64) % 50).tolist()
    _write_batch(spark, path, 1, [(2, 0, ramp)])  # extends 2x1 -> 3x1

    focal_stream_to_memory(
        spark, file_stream(spark, path, TILE_UPDATES_SCHEMA, 1), base,
        name="focal_grow", op="sum3", tile_size=T)
    got = {(r["tx"], r["ty"]): tuple(r["data"]) for r in
           spark.table("global_temp.focal_grow").collect()}
    assert set(got) == {(0, 0), (1, 0), (2, 0)}

    final = {(tx, 0): dem_value_np(
        tx * T + np.arange(T)[None, :],
        np.arange(T)[:, None]).ravel().tolist() for tx in range(2)}
    final[(2, 0)] = ramp
    cold_df = spark.createDataFrame(
        [(tx, ty, d) for (tx, ty), d in final.items()],
        "tx long, ty long, data array<long>")
    exp = {(r["tx"], r["ty"]): tuple(r["data"]) for r in
           focal_op(cold_df, op="sum3", tile_size=T).collect()}
    assert got == exp

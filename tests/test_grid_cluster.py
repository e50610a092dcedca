"""Grid-density clustering (spatial/cluster.py) vs hand cases and a
pure-Python flood-fill reference."""

from __future__ import annotations

import random

import pytest

from osm2geojson_spark.session import owned
from osm2geojson_spark.spatial.cluster import grid_cluster
from tools.check_oracle import residue

SCHEMA = "lon double, lat double"


def _cell_pt(ix, iy, res):
    # a point strictly inside grid cell (ix, iy) at resolution res
    n = 1 << res
    return (-180.0 + (ix + 0.5) * 360.0 / n,
            -90.0 + (iy + 0.5) * 180.0 / n)


def _fill(cells):
    """Pure-Python 8-connected components -> {cell_key: min cell key}."""
    def enc(ix, iy, res=4):
        def spread(v):
            for s, m in [(8, 0x00FF00FF00FF00FF), (4, 0x0F0F0F0F0F0F0F0F),
                         (2, 0x3333333333333333), (1, 0x5555555555555555)]:
                v = (v << s | v) & m
            return v
        return spread(ix) | (spread(iy) << 1)

    ids = {c: enc(*c) for c in cells}
    label = dict(ids)
    for start in cells:
        comp, stack = set(), [start]
        while stack:
            cx, cy = stack.pop()
            if (cx, cy) in comp:
                continue
            comp.add((cx, cy))
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (cx + dx, cy + dy)
                    if nb != (cx, cy) and nb in cells and nb not in comp:
                        stack.append(nb)
        m = min(ids[c] for c in comp)
        for c in comp:
            label[c] = m
    return {ids[c]: label[c] for c in cells}


def test_hand_shapes(spark):
    res, min_pts = 4, 2
    rows = []
    # L-shaped cluster: (1,1)-(1,2)-(2,2); diagonal link: (5,5)-(6,6);
    # isolated dense cell: (10, 3); noise (single point): (12, 12)
    dense = [(1, 1), (1, 2), (2, 2), (5, 5), (6, 6), (10, 3)]
    for c in dense:
        x, y = _cell_pt(*c, res)
        rows += [(x, y), (x + 1e-4, y + 1e-4)]
    rows.append(_cell_pt(12, 12, res))
    out = grid_cluster(spark.createDataFrame(rows, SCHEMA),
                       res=res, min_pts=min_pts)
    got = {r["cell"]: r["cluster_id"] for r in out.collect()}
    assert got == _fill(set(dense))
    # noise cell absent; three distinct clusters
    assert len(set(got.values())) == 3


def test_matches_python_flood_fill(spark):
    res, min_pts = 4, 3
    rng = random.Random(31)
    rows = []
    occupied = {}
    for _ in range(120):
        ix, iy = rng.randrange(0, 16), rng.randrange(0, 16)
        k = rng.randint(1, 5)
        occupied[(ix, iy)] = occupied.get((ix, iy), 0) + k
        x, y = _cell_pt(ix, iy, res)
        rows += [(x + i * 1e-5, y) for i in range(k)]
    dense = {c for c, n in occupied.items() if n >= min_pts}
    out = grid_cluster(spark.createDataFrame(rows, SCHEMA).repartition(7),
                       res=res, min_pts=min_pts)
    got = {r["cell"]: r["cluster_id"] for r in out.collect()}
    assert got == _fill(dense)
    n_by_cell = {r["cell"]: r["n_pts"] for r in out.collect()}
    assert all(v >= min_pts for v in n_by_cell.values())


def test_no_dense_cells_and_cleanup(spark):
    df = spark.createDataFrame([(0.0, 0.0), (90.0, 45.0)], SCHEMA)
    with owned(spark) as before:
        assert grid_cluster(df, res=4, min_pts=3).count() == 0
    assert residue(spark, before) == []   # dense-cell table released


if __name__ == "__main__":
    pytest.main([__file__, "-q"])

"""Exact DBSCAN semantics on hand-built point sets."""

from osm2geojson_spark.session import owned
from osm2geojson_spark.spatial.cluster import dbscan


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, x long, y long")


def _run(spark, rows, eps, min_pts):
    with owned(spark):
        out = dbscan(_pts(spark, rows), eps=eps, min_pts=min_pts)
        return {r.id: (r.role, r.cluster_id) for r in out.collect()}


def test_two_clusters_and_noise(spark):
    # cluster A: ids 1-3 mutually within eps; cluster B: 10-12;
    # id 99 isolated
    rows = [(1, 0, 0), (2, 5, 0), (3, 0, 5),
            (10, 1000, 1000), (11, 1005, 1000), (12, 1000, 1005),
            (99, 5000, 5000)]
    got = _run(spark, rows, eps=10, min_pts=3)
    assert got[1] == ("core", 1) and got[2] == ("core", 1) \
        and got[3] == ("core", 1)
    assert got[10] == ("core", 10) and got[11] == ("core", 10) \
        and got[12] == ("core", 10)
    assert got[99] == ("noise", -1)


def test_border_attaches_to_smallest_cluster(spark):
    # two 4-core clusters, min_pts=4; id 50 is within eps of exactly
    # one core in EACH (|N|=3 < 4 so not core itself) -> border,
    # deterministic tie to the smaller cluster id
    rows = [(1, 0, 0), (2, 4, 0), (3, 0, 4), (4, 4, 4),      # cluster 1
            (20, 24, 0), (21, 28, 0), (22, 24, 4), (23, 28, 4),
            (50, 14, 0)]          # dist 10 to core 2 AND to core 20
    got = _run(spark, rows, eps=10, min_pts=4)
    assert got[50] == ("border", 1)
    assert got[1] == ("core", 1) and got[20] == ("core", 20)


def test_min_pts_counts_self(spark):
    # pair of mutual neighbors: |N|=2 including self -> core at
    # min_pts=2, noise-free; at min_pts=3 they are not core and have
    # no core neighbor -> noise
    rows = [(1, 0, 0), (2, 3, 0)]
    got2 = _run(spark, rows, eps=5, min_pts=2)
    assert got2[1] == ("core", 1) and got2[2] == ("core", 1)
    got3 = _run(spark, rows, eps=5, min_pts=3)
    assert got3[1] == ("noise", -1) and got3[2] == ("noise", -1)


def test_chain_merges_through_density(spark):
    # chain of cores each within eps of the next: single cluster even
    # though ends are far apart (density-connectivity, not diameter)
    rows = [(i, i * 4, 0) for i in range(10)]
    got = _run(spark, rows, eps=5, min_pts=3)
    # interior points see self + both neighbors (|N|=3) -> core, one
    # density-connected cluster labeled by the smallest CORE id (1)
    assert all(got[i] == ("core", 1) for i in range(1, 9))
    # ends see only self + one neighbor (|N|=2) -> border of that
    # cluster, and the cluster label is still the min core id
    assert got[0] == ("border", 1) and got[9] == ("border", 1)


def test_cross_cell_pairs_found(spark):
    # eps=10 -> cells of 10; points at x=9 and x=11 are in different
    # cells but within eps — the 9-image join must find them
    rows = [(1, 9, 0), (2, 11, 0), (3, 10, 5)]
    got = _run(spark, rows, eps=10, min_pts=3)
    assert {v for v in got.values()} == {("core", 1)}


def test_singleton_core_cluster(spark):
    # dense triple all at SAME cell + an isolated dense pair far away:
    # min_pts=3 -> triple is one cluster; isolated core-free pair noise
    rows = [(5, 0, 0), (6, 1, 0), (7, 0, 1), (30, 900, 900), (31, 901, 900)]
    got = _run(spark, rows, eps=5, min_pts=3)
    assert got[5] == ("core", 5) and got[6] == ("core", 5) \
        and got[7] == ("core", 5)
    assert got[30] == ("noise", -1) and got[31] == ("noise", -1)

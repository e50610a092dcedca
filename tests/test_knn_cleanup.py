"""knn_join persisted-frontier lifecycle (VERDICT round-2 item 4): the
returned plan exposes knn_cleanup(); calling it after consumption
releases every per-round frontier, so repeated knn_join calls in one
session do NOT accumulate cached plans. Residue is checked by RDD id:
other tests' cached RDDs may be released while a run is in flight, so
a plain count can fall below its baseline without any knn leak."""

from __future__ import annotations

from pyspark.sql import functions as F


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run_once(spark):
    from osm2geojson_spark.spatial.knn import knn_join

    corpus = spark.range(500).select(
        F.col("id"),
        (F.pmod(F.col("id") * 37, F.lit(360000)) / 1000.0 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 53, F.lit(170000)) / 1000.0 - 85.0).alias("lat"))
    queries = spark.range(20).select(
        F.col("id"),
        (F.pmod(F.col("id") * 91, F.lit(360000)) / 1000.0 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 17, F.lit(170000)) / 1000.0 - 85.0).alias("lat"))
    out = knn_join(corpus, queries, k=3, res=3, max_rounds=2,
                   margin=5, metric="planar")
    n = out.count()
    assert n > 0
    return out


def test_knn_cleanup_releases_all_frontiers(spark):
    spark.catalog.clearCache()
    base = _persistent_rdd_ids(spark)
    out = _run_once(spark)
    grown = _persistent_rdd_ids(spark)
    assert grown - base                       # frontiers were persisted
    released = out.knn_cleanup(blocking=True)
    assert released >= 3                      # cand/pending rounds + corpus
    assert _persistent_rdd_ids(spark) - base == set()


def test_repeated_knn_join_does_not_accumulate(spark):
    spark.catalog.clearCache()
    residue = []
    for _ in range(3):
        base = _persistent_rdd_ids(spark)
        out = _run_once(spark)
        out.knn_cleanup(blocking=True)
        residue.append(_persistent_rdd_ids(spark) - base)
    assert residue == [set(), set(), set()], residue

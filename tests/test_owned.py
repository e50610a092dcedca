"""One owner for cache lifetimes (session.owned): a catalog entry that
caches internally, run and consumed inside a block, leaves no persisted
RDD and no CacheManager entry behind, and gives the same rows when run
again in a fresh block. Residue is judged by RDD id, so releases of
other tests' RDDs during a run cannot hide or fake a leak."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.session import owned, persist
from tools.check_oracle import SF as GATE_SF
from tools.check_oracle import df_multiset, residue

SF = GATE_SF.replace("sf0.01", "sf0.001")  # the gate's tables, one scale down

CACHING_ENTRIES = ["knn_ring", "kendall", "mann_kendall", "bm25_topk",
                   "grid_cluster", "dbscan", "scc", "box_variance"]


def _rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", CACHING_ENTRIES)
def test_entry_leaves_no_residue(spark, name):
    import __spark_entry__ as E

    runs = []
    for _ in range(2):
        with owned(spark) as before:
            sdf = E.queries()[name](spark, SF)
            runs.append(df_multiset(sdf.columns, sdf.collect()))
            assert residue(spark, before)       # the run cached something
        assert residue(spark, before) == []
    assert runs[0] == runs[1]


def test_released_plan_caches_again(spark):
    # a persist released at RDD level only would keep its CacheManager
    # entry, and re-persisting the same plan would then cache nothing
    # (no new RDD id): the block must release it as a DataFrame
    made = []
    for _ in range(2):
        with owned(spark) as before:
            df = persist(spark.range(2000).select((F.col("id") * 7).alias("v")))
            assert df.count() == 2000
            made.append(_rdd_ids(spark) - before[0])
        assert residue(spark, before) == []
    assert made[0] and made[1] and not made[0] & made[1]


def test_local_checkpoint_released(spark):
    # DataFrame.unpersist does not release a local checkpoint's RDD
    with owned(spark) as before:
        cp = spark.range(2000).select((F.col("id") % 13).alias("v")) \
            .localCheckpoint(eager=True)
        made = _rdd_ids(spark) - before[0]
        assert made
        assert cp.count() == 2000
    assert not made & _rdd_ids(spark)
    assert residue(spark, before) == []

"""Bucketed-table layout for co-located joins (driver brief: "bucketing
for co-located joins"; SURVEY §4 partition-pruning row).

At 100 TB the same fact table is joined on the same key by many
pipelines. Writing it ONCE bucketed+sorted on that key makes every
subsequent equi-join shuffle-free on both sides (SortMergeJoin with no
Exchange): the shuffle is paid at write time, amortized over every
downstream join — the Spark-native analogue of the reference keeping
every intermediate file pre-sorted by its join key
(SortingWriter.java:25-28). Two such tables join with a plain
``spark.table(l).join(spark.table(r), key)``: the planner emits a
SortMergeJoin with NO Exchange on either side (asserted in
tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table."""
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a stale warehouse dir without catalog metadata blocks re-creation
    loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{loc.removeprefix('file:')}/{table}", ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


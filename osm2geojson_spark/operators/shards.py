"""Training-shard packing — the WebDataset/tar-shard layout step a
100 TB image+caption corpus runs before training: place every record
at a deterministic global byte offset (shuffled order) and cut the
stream into fixed-capacity shards, emitting the per-shard manifest a
reader consumes (counts, bytes, first/last record).

GRAFT extension (no reference analog — the reference writes three gz
streams; this is the layout contract of the north-star 10^12-row
image+caption table, BASELINE.json input_hint).

Scale design: the only global structure is a prefix sum of record
sizes in the shuffle order, and a naive ``Window.orderBy`` without
partition keys is a ONE-task sort (the documented strpack ceiling).
``pack_shards`` runs it through ``spatial/strpack.prefix_sums`` with a
deterministic monotone integer bucket of the order key (``div``):
per-bucket size subtotals (O(#buckets) rows, broadcast prefix offsets)
plus an ordinary partitioned window cumsum inside each bucket. Shard
id is ``offset_before div capacity`` — pure int64, oracle-exact in any
engine. Records larger than ``capacity`` keep the math well-defined:
they own their start shard and later ids simply skip ahead (ids need
not be contiguous)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.spatial.strpack import prefix_sums

__all__ = ["pack_shards", "shard_manifest"]


def pack_shards(df: DataFrame, *, size_col: str, order_col: str,
                bucket: Column, capacity: int,
                out_col: str = "shard_id") -> DataFrame:
    """Assign each row a shard id by its exclusive prefix sum of
    ``size_col`` in ascending ``order_col`` order (keys must be
    globally unique). ``bucket`` must be a deterministic integer
    column monotone in ``order_col`` (e.g. ``F.expr("okey div
    1048576")``). Adds ``offset`` (global start byte) + ``out_col``."""
    cap = int(capacity)
    if cap <= 0:
        raise ValueError("capacity must be a positive integer")
    size = F.coalesce(F.col(size_col), F.lit(0))
    return (prefix_sums(df, [order_col], {"offset": size}, bucket)
            .withColumn("offset", (F.col("offset") - size).cast("long"))
            .withColumn(out_col, F.expr(f"offset div {cap}")))


def shard_manifest(assigned: DataFrame, *, id_col: str,
                   size_col: str, order_col: str,
                   shard_col: str = "shard_id") -> DataFrame:
    """Per-shard manifest: item count, total bytes, and the first/last
    record ids in shard order. One map-side-combinable aggregation."""
    return assigned.groupBy(shard_col).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(size_col).cast("long").alias("bytes"),
        F.min_by(id_col, F.col(order_col)).alias("first_id"),
        F.max_by(id_col, F.col(order_col)).alias("last_id"),
    )

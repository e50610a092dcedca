"""Structured-Streaming twin for the VIDEO payload pipeline.

Clips land continuously (parquet file drops, one row per clip); the
stream applies the SAME Arrow kernels as the batch path:

- ``operators/video.scene_cuts`` / ``shot_signatures`` are stateless
  mapInPandas stages, so they run on the stream itself and batch==stream
  parity is by construction (pinned in tests/test_streaming_video.py).
- ``shot_dedup_stream`` is the incremental near-dup join. The key
  property making it exact: a clip's ENTIRE signature set arrives in
  one row, so a dup pair (a, b) can be emitted exactly once — in the
  micro-batch where the LATER clip lands — by joining only
  (new × store) ∪ (new × new) candidates; per-clip set sizes are
  static, so Jaccard needs no state beyond the signature store. Batch
  ``b`` writes its new signatures to ``store_dir/v=b`` and its new pairs
  to ``pairs_dir/v=b`` (``versioned_batches``), so each directory read
  whole is the full table, and a re-run or a replayed ``batch_id`` adds
  nothing. At production scale the store is a phash-bucketed table,
  exactly the batch operator's shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.operators.video import shot_signatures
from osm2geojson_spark.session import persist
from osm2geojson_spark.streaming.events import (
    run_available_now,
    versioned_batches,
)

__all__ = ["shot_dedup_stream"]


def shot_dedup_stream(
    spark: SparkSession, vids: DataFrame, store_dir: str, pairs_dir: str,
    min_shared: int = 2, thr_per_px: int = 100,
    queryName: str = "shot_dedup_stream",
):
    """availableNow foreachBatch run: per micro-batch, decode → shot
    signatures → join new clips' signatures against the store versions
    below the batch (+ the batch itself) → write the new dup pairs with
    exact integer-ppm Jaccard. The query checkpoints under
    ``store_dir/_chk``; ``store_dir`` must be local. Returns the
    finished StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int, below: list[str]) -> None:
        sigs = persist(shot_signatures(batch_df, thr_per_px=thr_per_px)
                       .where(F.col("error").isNull())
                       .select("media_id", "phash").distinct())
        allsigs = sigs
        if below:
            allsigs = (spark.read.schema(sigs.schema).parquet(*below)
                       .unionByName(sigs))
        counts = allsigs.groupBy("media_id").agg(
            F.count("*").alias("n_shots"))
        cand = (
            sigs.alias("n")
            .join(allsigs.alias("o"),
                  (F.col("n.phash") == F.col("o.phash"))
                  & (F.col("n.media_id") != F.col("o.media_id")))
            .select(
                F.least("n.media_id", "o.media_id").alias("id_a"),
                F.greatest("n.media_id", "o.media_id").alias("id_b"),
                F.col("n.phash").alias("phash"))
            # a new×new pair matches in both orientations — collapse
            .dropDuplicates(["id_a", "id_b", "phash"])
        )
        pairs = (cand.groupBy("id_a", "id_b")
                 .agg(F.count("*").alias("shared"))
                 .where(F.col("shared") >= min_shared))
        ca = F.broadcast(counts).alias("ca")
        cb = F.broadcast(counts).alias("cb")
        out = (
            pairs
            .join(ca, F.col("id_a") == F.col("ca.media_id"))
            .join(cb, F.col("id_b") == F.col("cb.media_id"))
            .select("id_a", "id_b", "shared",
                    F.expr("shared * 1000000 div (ca.n_shots"
                           " + cb.n_shots - shared)")
                    .alias("jaccard_ppm"))
        )
        out.write.mode("overwrite").parquet(f"{pairs_dir}/v={batch_id}")
        # the store version is the batch's commit mark: written last
        sigs.write.mode("overwrite").parquet(f"{store_dir}/v={batch_id}")

    return run_available_now(
        vids.writeStream.queryName(queryName)
        .foreachBatch(versioned_batches(store_dir, process))
        .option("checkpointLocation", f"{store_dir}/_chk"))

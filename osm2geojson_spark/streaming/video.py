"""Structured-Streaming twins for the VIDEO payload pipeline.

Clips land continuously (parquet file drops, one row per clip); the
stream applies the SAME Arrow kernels as the batch path:

- ``scene_cut_stream`` / ``shot_signature_stream`` are stateless —
  mapInPandas is stream-capable, so batch==stream parity is by
  construction (pinned in tests/test_streaming_video.py).
- ``shot_dedup_stream`` is the incremental near-dup join. The key
  property making it exact: a clip's ENTIRE signature set arrives in
  one row, so a dup pair (a, b) can be emitted exactly once — in the
  micro-batch where the LATER clip lands — by joining only
  (new × store) ∪ (new × new) candidates; per-clip set sizes are
  static, so Jaccard needs no state beyond the signature store. The
  store is an append-only parquet directory (at production scale: a
  phash-bucketed table, exactly the batch operator's shuffle key), and
  each emitted batch is appended to ``pairs_dir``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.operators.video import scene_cuts, shot_signatures
from osm2geojson_spark.session import persist
from osm2geojson_spark.synth.video import VIDEO_SCHEMA

__all__ = [
    "stream_videos_from_parquet",
    "scene_cut_stream",
    "shot_signature_stream",
    "shot_dedup_stream",
]


def stream_videos_from_parquet(
    spark: SparkSession, path: str, max_files_per_trigger: int = 2
) -> DataFrame:
    return (
        spark.readStream.schema(VIDEO_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def scene_cut_stream(vids: DataFrame, thr_per_px: int = 100) -> DataFrame:
    return scene_cuts(vids, thr_per_px=thr_per_px)


def shot_signature_stream(vids: DataFrame,
                          thr_per_px: int = 100) -> DataFrame:
    return shot_signatures(vids, thr_per_px=thr_per_px)


def shot_dedup_stream(
    spark: SparkSession, vids: DataFrame, store_dir: str, pairs_dir: str,
    min_shared: int = 2, thr_per_px: int = 100,
    queryName: str = "shot_dedup_stream",
):
    """availableNow foreachBatch run: per micro-batch, decode → shot
    signatures → join new clips' signatures against the accumulated
    store (+ the batch itself) → append new dup pairs with exact
    integer-ppm Jaccard. Returns the finished StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sigs = persist(shot_signatures(batch_df, thr_per_px=thr_per_px)
                       .where(F.col("error").isNull())
                       .select("media_id", "phash").distinct())
        try:
            try:
                old = spark.read.parquet(store_dir)
            except Exception:  # noqa: BLE001 — first batch, no store yet
                old = sigs.limit(0)
            allsigs = old.unionByName(sigs)
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
            out.write.mode("append").parquet(pairs_dir)
            sigs.write.mode("append").parquet(store_dir)
        finally:
            sigs.unpersist()

    return (vids.writeStream.queryName(queryName)
            .foreachBatch(process)
            .trigger(availableNow=True).start())

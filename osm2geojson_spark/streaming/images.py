"""Structured-Streaming twins for the IMAGE payload pipeline — the
ingest-time shape of the north-star job: images land continuously
(parquet file drops), each micro-batch is decoded/validated with the
SAME Arrow kernels as the batch path, quarantined rows split off, and
near-dup suppression runs incrementally with watermark-bounded state.

Design notes (100 TB/day ingest):

- Decode/validate is ``operators/images.validate_images`` applied to
  the stream itself — mapInPandas is stream-capable, so batch/stream
  parity is by construction (and pinned by test_streaming_images).
- ``phash_dedup_stream`` uses ``dropDuplicatesWithinWatermark`` on the
  recomputed phash: state is bounded by the watermark horizon (phashes
  seen in the last N hours), not phashes ever seen — the difference
  between O(day) and O(forever) state at production rates.
- The ingest timestamp is a COLUMN (``ingest_ts``) so replays are
  deterministic in tests; production would stamp it at the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.streaming.events import (
    run_available_now,
    state_versions,
    versioned_batches,
)


def with_ingest_ts(imgs: DataFrame) -> DataFrame:
    """Deterministic per-image ingest timestamp (seed arithmetic on the
    id) so stream replays and the batch twin see identical event time."""
    seed = F.element_at(F.split(F.col("image_id"), "-"), -1).cast("long")
    return imgs.withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + seed % 7200),
    )


def phash_dedup_stream(
    imgs: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Incremental exact-phash dedup at ingest: keep the first-seen row
    per phash with watermark-bounded state. (Near-dup banding on top of
    this uses the batch ``phash_near_dup_pairs`` over the deduped
    output — banding needs a self-join, which streaming defers to the
    periodic batch compaction, the standard lambda split.)"""
    return (
        with_ingest_ts(imgs)
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["phash"])
    )


def mosaic_stream(
    spark: SparkSession, imgs: DataFrame, state_dir: str,
    world_px: int = 1024, tile: int = 128, thumb: int = 16,
    queryName: str = "mosaic_stream",
):
    """Incremental geo-mosaic ingest (availableNow foreachBatch): each
    micro-batch's thumbnails become per-tile PARTIAL state
    ``(tx, ty, n_contrib, acc array<long>, cnt array<long>)`` — the
    associative half of the batch kernel — merged element-wise with
    the accumulated store (``versioned_batches``: batch ``b`` reads the
    newest version below ``b`` and writes ``v=b``, never in place; a
    replayed ``batch_id`` whose version is committed does nothing).
    ``mosaic_from_state`` renders the same ``(tx, ty, n_contrib, w_px,
    h_px, md5)`` rows as the batch ``geo_mosaic`` — associativity of
    (sum, count) makes stream-after-N-drops == batch-over-all, which
    test_streaming_images pins byte-exactly. State is bounded by
    touched tiles × tile area, independent of image count. ``state_dir``
    must be local."""
    import numpy as np
    import pandas as pd

    from osm2geojson_spark.operators.images import mosaic_contribs

    t, s = int(tile), int(thumb)

    def accum(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        ox, oy = tx * t, ty * t
        acc = np.zeros((t, t, 3), dtype=np.int64)
        cnt = np.zeros((t, t), dtype=np.int64)
        for vec, px0, py0 in zip(pdf["vec"], pdf["px0"], pdf["py0"]):
            px0, py0 = int(px0), int(py0)
            x0, x1 = max(px0, ox), min(px0 + s, ox + t)
            y0, y1 = max(py0, oy), min(py0 + s, oy + t)
            block = np.asarray(vec, np.int64).reshape(s, s, 3)
            acc[y0 - oy:y1 - oy, x0 - ox:x1 - ox] += \
                block[y0 - py0:y1 - py0, x0 - px0:x1 - px0]
            cnt[y0 - oy:y1 - oy, x0 - ox:x1 - ox] += 1
        return pd.DataFrame(
            [(tx, ty, len(pdf), [int(v) for v in acc.reshape(-1)],
              [int(v) for v in cnt.reshape(-1)])],
            columns=["tx", "ty", "n_contrib", "acc", "cnt"])

    state_schema = ("tx long, ty long, n_contrib long, "
                    "acc array<long>, cnt array<long>")

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(t * t * 3, dtype=np.int64)
        cnt = np.zeros(t * t, dtype=np.int64)
        n = 0
        for a, c, nc in zip(pdf["acc"], pdf["cnt"], pdf["n_contrib"]):
            acc += np.asarray(a, np.int64)
            cnt += np.asarray(c, np.int64)
            n += int(nc)
        return pd.DataFrame(
            [(int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0]), n,
              [int(v) for v in acc], [int(v) for v in cnt])],
            columns=["tx", "ty", "n_contrib", "acc", "cnt"])

    def process(batch_df: DataFrame, batch_id: int, below: list[str]) -> None:
        partial = (mosaic_contribs(batch_df, int(world_px), t, s)
                   .groupBy("tx", "ty")
                   .applyInPandas(accum, state_schema))
        if below:
            partial = spark.read.parquet(below[-1]).unionByName(partial)
        merged = (partial.groupBy("tx", "ty")
                  .applyInPandas(merge, state_schema))
        merged.write.mode("overwrite").parquet(f"{state_dir}/v={batch_id}")

    # a non-local state_dir fails in versioned_batches, before the stream
    return run_available_now(
        imgs.writeStream.foreachBatch(versioned_batches(state_dir, process))
        .queryName(queryName)
        .option("checkpointLocation", f"{state_dir}/_chk"))


def mosaic_from_state(spark: SparkSession, state_dir: str,
                      tile: int = 128) -> DataFrame:
    """Render the accumulated mosaic state to the batch ``geo_mosaic``
    output shape: per tile, ``pixel = acc div cnt`` where covered,
    black elsewhere, ppm-encoded and md5-pinned."""
    import hashlib

    import numpy as np
    import pandas as pd

    from osm2geojson_spark.synth.images import encode_ppm

    t = int(tile)
    vs = state_versions(state_dir)
    if not vs:
        raise ValueError("no mosaic state written yet")
    state = spark.read.parquet(f"{state_dir}/v={max(vs)}")

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        r = pdf.iloc[0]
        acc = np.asarray(r["acc"], np.int64).reshape(t, t, 3)
        cnt = np.asarray(r["cnt"], np.int64).reshape(t, t, 1)
        out = np.where(cnt > 0, acc // np.maximum(cnt, 1), 0) \
            .astype(np.uint8)
        return pd.DataFrame(
            [(int(r["tx"]), int(r["ty"]), int(r["n_contrib"]), t, t,
              hashlib.md5(encode_ppm(out)).hexdigest())],
            columns=["tx", "ty", "n_contrib", "w_px", "h_px", "md5"])

    return (state.groupBy("tx", "ty")
            .applyInPandas(render,
                           "tx long, ty long, n_contrib long, "
                           "w_px int, h_px int, md5 string"))

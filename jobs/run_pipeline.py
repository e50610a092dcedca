"""spark-submit entry point for the north-star pipeline (north_rule:
"launched via spark-submit --py-files").

Packaging:
  cd /root/repo && zip -r /tmp/osm2geojson_spark.zip osm2geojson_spark
  spark-submit --py-files /tmp/osm2geojson_spark.zip \
      jobs/run_pipeline.py --images <parquet> --out <dir> [--resume]

Stages (each a per-partition checkpoint — crash-resumable via the
lineage table under <out>/_lineage):
  1. validate   — decode / PSNR≥40dB / phash / caption invariants,
                  quarantine split
  2. spatial    — broadcast PIP against region boxes + zoom tile assign
  3. rollup     — per-(poly, tile) aggregate

On a cluster, spark-submit owns master/memory; get_spark only applies
SQL confs. Locally it falls back to local[*].
"""

from __future__ import annotations

import argparse
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True, help="image+caption parquet")
    ap.add_argument("--regions", default="/root/testdata/sf0.01/region.parquet")
    ap.add_argument("--out", required=True, help="checkpoint/output root")
    ap.add_argument("--zoom", type=int, default=7)
    ap.add_argument("--res", type=int, default=7)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--layout", choices=("parquet", "iceberg"),
                    default="parquet",
                    help="bucketed-checkpoint layout: plain parquet dirs "
                         "or the Iceberg-style snapshot/manifest table")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from osm2geojson_spark import queries as Q
    from osm2geojson_spark.operators.images import quarantine_split, validate_images
    from osm2geojson_spark.plans.checkpoint import (
        run_bucketed_stage,
        run_stage,
        write_metrics,
    )
    from osm2geojson_spark.session import get_spark
    from osm2geojson_spark.spatial import tiles as TI
    from osm2geojson_spark.spatial.pip import point_in_polygon_join

    spark = get_spark("north-star-pipeline")
    t0 = time.perf_counter()
    imgs = spark.read.parquet(args.images)
    region = spark.read.parquet(args.regions)

    # 1. validate — bucketed on image_id hash → per-partition resume
    bucket = F.pmod(F.xxhash64("image_id"), F.lit(args.n_buckets))
    validated = run_bucketed_stage(
        spark, args.out, "validate", imgs,
        lambda df: validate_images(df.drop("_bucket")).withColumn(
            "_bucket", F.pmod(F.xxhash64("image_id"), F.lit(args.n_buckets)).cast("int")),
        bucket, n_buckets=args.n_buckets, layout=args.layout)
    good = quarantine_split(validated)[0]
    n_good, n_bad = validated.agg(F.count_if("ok"), F.count_if(~F.col("ok"))).first()
    write_metrics(spark, args.out, "validate",
                  {"rows_ok": n_good, "rows_quarantined": n_bad})

    # 2+3. spatial join + tile rollup (stage checkpoint)
    def spatial():
        pts = imgs.select("image_id", "lon", "lat").join(
            good.select("image_id"), "image_id")
        hits = point_in_polygon_join(pts, Q.region_boxes(region), res=args.res)
        return TI.assign_tiles(hits, zoom=args.zoom).groupBy(
            "poly_id", "tile_id").agg(
            F.count("*").alias("n_images"), F.min("image_id").alias("first_image"))

    out = run_stage(spark, args.out, "tile_rollup", spatial)
    n_tiles = out.count()
    wall = time.perf_counter() - t0
    write_metrics(spark, args.out, "pipeline",
                  {"tiles": n_tiles, "wall_sec": wall})
    print(f"done: {n_good} ok / {n_bad} quarantined → {n_tiles} "
          f"(poly, tile) rows in {wall:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

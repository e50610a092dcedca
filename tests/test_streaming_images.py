"""Streaming image-pipeline twins (streaming/images.py): each streaming
operator's availableNow run over file-dropped parquet must equal its
batch twin on the same rows."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.operators.images import validate_images
from osm2geojson_spark.streaming.events import file_stream, run_stream_to_memory
from osm2geojson_spark.streaming.images import (
    phash_dedup_stream,
    with_ingest_ts,
)
from osm2geojson_spark.synth.images import FMTS_JPEG, IMG_SCHEMA, images_table


@pytest.fixture(scope="module")
def img_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("imgstream") / "imgs")
    # several files so maxFilesPerTrigger yields multiple micro-batches;
    # include jpg so the real JPEG decoder runs inside the stream
    images_table(spark, n=120, seed=42, fmts=FMTS_JPEG) \
        .repartition(6).write.parquet(d)
    return d


def test_validate_stream_equals_batch(spark, img_dir):
    stream = validate_images(file_stream(spark, img_dir, IMG_SCHEMA, 2))
    run_stream_to_memory(stream, "val_stream", output_mode="append")
    got = {r["image_id"]: r for r in spark.table("val_stream").collect()}
    want = {r["image_id"]: r
            for r in validate_images(spark.read.parquet(img_dir)).collect()}
    assert got.keys() == want.keys() and len(got) == 120
    for k in want:
        assert (got[k]["ok"], got[k]["error"], got[k]["psnr_db"],
                got[k]["phash_match"]) == (
            want[k]["ok"], want[k]["error"], want[k]["psnr_db"],
            want[k]["phash_match"]), k
    # multiple micro-batches actually happened (6 files, 2 per trigger)
    assert all(r["ok"] for r in got.values())


def test_phash_dedup_stream_equals_batch_first_seen(spark, img_dir):
    base = spark.read.parquet(img_dir)
    # plant exact duplicates: same phash, later ingest_ts, distinct id
    dupes = base.limit(10).withColumn(
        "image_id", F.concat(F.lit("dup-"), F.col("image_id")))
    d2 = img_dir + "_withdupes"
    base.unionAll(dupes).repartition(5).write.parquet(d2)

    stream = phash_dedup_stream(file_stream(spark, d2, IMG_SCHEMA, 2))
    run_stream_to_memory(stream, "dedup_stream", output_mode="append")
    got = spark.table("dedup_stream")

    # exactly one survivor per phash, none lost
    n_phash = base.unionAll(dupes).select("phash").distinct().count()
    assert got.count() == n_phash
    assert got.select("phash").distinct().count() == n_phash
    # batch twin: one row per phash — same key set
    batch_keys = {r["phash"] for r in
                  spark.read.parquet(d2).dropDuplicates(["phash"]).collect()}
    assert {r["phash"] for r in got.collect()} == batch_keys


def test_ingest_ts_deterministic(spark, img_dir):
    a = with_ingest_ts(spark.read.parquet(img_dir)).select("image_id", "ingest_ts")
    b = with_ingest_ts(spark.read.parquet(img_dir)).select("image_id", "ingest_ts")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def _mosaic_stream_vs_batch(spark, img_dir, state):
    """(stream rows from the state in ``state``, batch ``geo_mosaic``
    rows), each as {(tx, ty): (n_contrib, md5)}."""
    from osm2geojson_spark.operators.images import geo_mosaic
    from osm2geojson_spark.streaming.images import mosaic_from_state

    got = {(r["tx"], r["ty"]): (r["n_contrib"], r["md5"])
           for r in mosaic_from_state(spark, state, tile=128).collect()}
    want = {(r["tx"], r["ty"]): (r["n_contrib"], r["md5"])
            for r in geo_mosaic(spark.read.parquet(img_dir),
                                world_px=1024, tile=128,
                                thumb=16).collect()}
    return got, want


def _run_mosaic_stream(spark, img_dir, state):
    from osm2geojson_spark.streaming.images import mosaic_stream

    mosaic_stream(
        spark, file_stream(spark, img_dir, IMG_SCHEMA, 2), state,
        world_px=1024, tile=128, thumb=16)


def test_mosaic_stream_equals_batch(spark, img_dir, tmp_path):
    state = str(tmp_path / "mosaic_state")
    _run_mosaic_stream(spark, img_dir, state)
    got, want = _mosaic_stream_vs_batch(spark, img_dir, state)
    assert got == want and len(got) > 5


def test_mosaic_stream_replayed_batch_counts_once(spark, img_dir, tmp_path):
    # drop the last batch's commit: the restarted query re-delivers that
    # batch_id, whose state version is already written and must not be
    # merged a second time
    state = str(tmp_path / "mosaic_state")
    _run_mosaic_stream(spark, img_dir, state)
    commits = glob.glob(f"{state}/_chk/commits/[0-9]*")
    last = max(commits, key=lambda p: int(os.path.basename(p)))
    head, name = os.path.split(last)
    # with its checksum, or Spark refuses to write the commit again
    for p in (last, os.path.join(head, f".{name}.crc")):
        os.remove(p)
    _run_mosaic_stream(spark, img_dir, state)
    assert os.path.exists(last)  # the batch was delivered again
    got, want = _mosaic_stream_vs_batch(spark, img_dir, state)
    assert got == want and len(got) > 5


def test_mosaic_state_dir_must_be_local(spark, img_dir):
    # state versions are found with a local glob: a remote state_dir
    # would silently restart from v=0, so it must fail before any stream
    from osm2geojson_spark.streaming.images import (
        mosaic_from_state,
        mosaic_stream,
    )

    remote = "s3a://bucket/mosaic_state"
    with pytest.raises(ValueError, match="local path"):
        mosaic_stream(spark, file_stream(spark, img_dir, IMG_SCHEMA, 2),
                      remote, queryName="mosaic_remote")
    assert all(q.name != "mosaic_remote" for q in spark.streams.active)
    with pytest.raises(ValueError, match="local path"):
        mosaic_from_state(spark, remote)


def test_mosaic_state_versions_read_file_uri(tmp_path):
    from osm2geojson_spark.streaming.events import state_versions

    for v in (0, 3):
        (tmp_path / f"v={v}").mkdir()
    assert sorted(state_versions(str(tmp_path))) == [0, 3]
    assert sorted(state_versions(tmp_path.as_uri())) == [0, 3]

"""Streaming video-pipeline twins (streaming/video.py): availableNow
runs over file-dropped clip parquet must equal their batch twins."""

from __future__ import annotations

import glob
import os

import pytest

from osm2geojson_spark.operators.video import (
    scene_cuts,
    shot_signatures,
    video_dup_pairs,
)
from osm2geojson_spark.streaming.events import file_stream, run_stream_to_memory
from osm2geojson_spark.streaming.video import shot_dedup_stream
from osm2geojson_spark.synth.video import VIDEO_SCHEMA, shotpool_video_table


@pytest.fixture(scope="module")
def vid_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("vidstream") / "clips")
    shotpool_video_table(spark, n=60, seed=0).repartition(6) \
        .write.parquet(d)
    return d


def test_shot_signature_stream_equals_batch(spark, vid_dir):
    stream = shot_signatures(file_stream(spark, vid_dir, VIDEO_SCHEMA, 2))
    run_stream_to_memory(stream, "shots_stream", output_mode="append")
    got = {(r["media_id"], r["shot_idx"]): (r["start_frame"], r["phash"])
           for r in spark.table("shots_stream").collect()}
    want = {(r["media_id"], r["shot_idx"]): (r["start_frame"], r["phash"])
            for r in shot_signatures(spark.read.parquet(vid_dir)).collect()}
    assert got == want and len(got) == 240


def test_scene_cut_stream_equals_batch(spark, vid_dir):
    stream = scene_cuts(file_stream(spark, vid_dir, VIDEO_SCHEMA, 2))
    run_stream_to_memory(stream, "cuts_stream", output_mode="append")
    got = sorted((r["media_id"], r["cut_at"], r["d2"])
                 for r in spark.table("cuts_stream").collect())
    want = sorted((r["media_id"], r["cut_at"], r["d2"])
                  for r in scene_cuts(spark.read.parquet(vid_dir)).collect())
    assert got == want


def test_shot_dedup_stream_equals_batch(spark, vid_dir, tmp_path):
    store = str(tmp_path / "sigstore")
    pairs = str(tmp_path / "pairs")
    q = shot_dedup_stream(spark, file_stream(spark, vid_dir, VIDEO_SCHEMA, 2),
                          store, pairs, min_shared=2)
    q.awaitTermination()
    got = {(r["id_a"], r["id_b"]): (r["shared"], r["jaccard_ppm"])
           for r in spark.read.parquet(pairs).collect()}
    batch = video_dup_pairs(
        shot_signatures(spark.read.parquet(vid_dir)), min_shared=2)
    want = {(r["id_a"], r["id_b"]): (r["shared"], r["jaccard_ppm"])
            for r in batch.collect()}
    assert got == want and len(got) > 0
    # every pair emitted exactly once across micro-batches
    assert spark.read.parquet(pairs).count() == len(got)


def _run_shot_dedup(spark, vid_dir, store, pairs):
    shot_dedup_stream(spark, file_stream(spark, vid_dir, VIDEO_SCHEMA, 2),
                      store, pairs, min_shared=2)


def _assert_pairs_once_and_equal_batch(spark, vid_dir, store, pairs):
    """Every pair row is distinct and the pair set equals the batch
    twin; the store holds each clip's signatures once."""
    rows = [(r["id_a"], r["id_b"], r["shared"], r["jaccard_ppm"])
            for r in spark.read.parquet(pairs).collect()]
    sigs = shot_signatures(spark.read.parquet(vid_dir))
    want = {(r["id_a"], r["id_b"], r["shared"], r["jaccard_ppm"])
            for r in video_dup_pairs(sigs, min_shared=2).collect()}
    assert len(rows) == len(set(rows)) and set(rows) == want and want
    n_sigs = sigs.select("media_id", "phash").distinct().count()
    assert spark.read.parquet(store).count() == n_sigs


def test_shot_dedup_stream_rerun_adds_nothing(spark, vid_dir, tmp_path):
    # a second run on the same dirs resumes from the checkpoint: every
    # file is already processed, so neither pairs nor store grow
    store = str(tmp_path / "sigstore")
    pairs = str(tmp_path / "pairs")
    _run_shot_dedup(spark, vid_dir, store, pairs)
    _run_shot_dedup(spark, vid_dir, store, pairs)
    _assert_pairs_once_and_equal_batch(spark, vid_dir, store, pairs)


def test_shot_dedup_stream_replayed_batch_counts_once(spark, vid_dir,
                                                      tmp_path):
    # drop the last batch's commit: the restarted query re-delivers that
    # batch_id, whose store version is already written and must not add
    # its pairs or signatures a second time
    store = str(tmp_path / "sigstore")
    pairs = str(tmp_path / "pairs")
    _run_shot_dedup(spark, vid_dir, store, pairs)
    commits = glob.glob(f"{store}/_chk/commits/[0-9]*")
    assert len(commits) > 1  # several micro-batches ran
    last = max(commits, key=lambda p: int(os.path.basename(p)))
    head, name = os.path.split(last)
    # with its checksum, or Spark refuses to write the commit again
    for p in (last, os.path.join(head, f".{name}.crc")):
        os.remove(p)
    _run_shot_dedup(spark, vid_dir, store, pairs)
    assert os.path.exists(last)  # the batch was delivered again
    _assert_pairs_once_and_equal_batch(spark, vid_dir, store, pairs)

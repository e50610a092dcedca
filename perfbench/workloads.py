"""The three workloads: an untraced pass (timed), a traced pass (layer
by layer, each layer's output forced at its boundary and fed to the
next), and the output check every pass must pass.

Why each workload (see NOTES.md for the layer → metric map):

- ``osm_etl`` is the reference's own job: XML ingest, the nodes⋈ways⋈
  relations shuffle join and gzip writing do most of the work. No image
  decode, no PIP, no checkpoints.
- ``image_tiles`` is the north-star path of ``jobs/run_pipeline.py``,
  crashed on its third wave and resumed from lineage on every pass: the
  only workload with checkpoint writes, lineage reads and the Arrow
  ``mapInPandas`` decode. Little PIP or tile work.
- ``point_tiles`` is the spatial flagship: hot-spot-skewed points through
  broadcast PIP, tile assignment, S2 encode and a rollup to the noop
  sink. No disk writes, no XML, no decode, so an ingest or checkpoint
  change should show no change here. It is not in BENCHMARK.json: three
  workloads do not fit a benchmark round's time budget (NOTES.md), so
  ``image_tiles`` carries the S2 layer and this one is run by hand and by
  the smoke test.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import time
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from osm2geojson_spark import queries as Q
from osm2geojson_spark.functions import s2 as S2
from osm2geojson_spark.operators.images import quarantine_split, validate_images
from osm2geojson_spark.operators.osm_join import assemble_relations, assemble_ways
from osm2geojson_spark.operators.postprocess import (
    node_features,
    relation_features,
    way_features,
)
from osm2geojson_spark.pipeline import osm_to_geojson
from osm2geojson_spark.plans.checkpoint import run_bucketed_stage, run_stage, write_metrics
from osm2geojson_spark.sources.kv_text import write_jsonlines
from osm2geojson_spark.sources.osm_xml import parse_osm_blobs, read_osm_blobs_distributed
from osm2geojson_spark.spatial import tiles as TI
from osm2geojson_spark.spatial.pip import point_in_polygon_join


class CheckFailed(AssertionError):
    """A pass produced output that disagrees with its seed's counts or
    with the reference pass."""


class InjectedCrash(RuntimeError):
    """Raised by the benchmark's own stage function on the third wave."""


def multiset_digest(items) -> str:
    """Order-independent digest: sum of 64-bit blake2b of each item."""
    total = 0
    for it in items:
        b = it if isinstance(it, bytes) else repr(it).encode()
        total += int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "little")
    return f"{total % (1 << 64):016x}"


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got}, expected {want}")


def _force(df):
    df = df.persist()
    return df, df.count()


class Workload:
    name = ""
    sizes: dict[str, int] = {}
    warmup = 1
    min_timed = 3  # timed passes a run makes even when --seconds is shorter

    def prepare(self, spark, cache_root: str, seed: int, size: int) -> float:
        """Synthesize (or reuse) inputs; returns synthesis seconds."""
        raise NotImplementedError

    @property
    def records(self) -> int:
        raise NotImplementedError

    def run(self, spark, out: str, reference: bool = False):
        raise NotImplementedError

    def traced(self, spark, out: str, tracer, pass_id: str, reference: bool = False):
        raise NotImplementedError

    def check(self, spark, out: str, result) -> dict:
        """Raise CheckFailed, else return {"digest": ..., **extras}."""
        raise NotImplementedError


# ------------------------------------------------------------------ osm_etl
STREAMS = ("pois", "ways", "relations")


class OsmEtl(Workload):
    name = "osm_etl"
    sizes = {"full": 1000, "smoke": 100}
    # pass time keeps falling for ~4 passes in a fresh JVM (JIT and Python
    # workers); two warm-ups are what a benchmark round's time budget allows
    warmup = 2

    def prepare(self, spark, cache_root, seed, size):
        self.path, self.meta, synth_s = inputs.osm_inputs(cache_root, seed, size)
        return synth_s

    @property
    def records(self):
        return self.meta["entities"]

    def run(self, spark, out, reference=False):
        return osm_to_geojson(spark, self.path, out_dir=out, distributed=True)

    def traced(self, spark, out, tracer, pass_id, reference=False):
        cached = []

        def force(df):
            df, n = _force(df)
            cached.append(df)
            return df, n

        with tracer.span("sources.osm_xml", pass_id) as sp:
            blobs, _ = force(read_osm_blobs_distributed(spark, self.path))
            tabs, n_in = {}, 0
            for k, df in parse_osm_blobs(blobs).items():
                tabs[k], n = force(df)
                n_in += n
            sp.counts["rows_out"] = n_in
            sp.counts["xml_lines"] = self.meta["xml_lines"]
        with tracer.span("operators.osm_join", pass_id) as sp:
            ways, n_w = force(assemble_ways(tabs["nodes"], tabs["ways"]))
            rels, n_r = force(assemble_relations(tabs["nodes"], tabs["relations"], ways))
            sp.counts["rows_out"] = n_w + n_r
            sp.counts["missing_refs"] = ways.select(
                F.sum(F.size("missing_node_refs"))).first()[0]
        with tracer.span("operators.postprocess", pass_id) as sp:
            feats, n_f = {}, 0
            for k, df in (("pois", node_features(tabs["nodes"])),
                          ("ways", way_features(ways)),
                          ("relations", relation_features(rels))):
                feats[k], n = force(df)
                n_f += n
            sp.counts["rows_out"] = n_f
            sp.counts["entities_in"] = n_in
        with tracer.span("sources.kv_text", pass_id) as sp:
            for k in STREAMS:
                write_jsonlines(feats[k], f"{out}/osm-{k}.gz")
            sp.counts["rows_out"] = n_f
            sp.counts["bytes_written"] = tree_size(out)[1]
        return {"quarantine": tabs["quarantine"], "_cached": cached}

    def check(self, spark, out, result):
        digests = {}
        for k in STREAMS:
            lines = []
            d = f"{out}/osm-{k}.gz"
            for f in sorted(os.listdir(d)):
                if f.startswith("part-"):
                    with gzip.open(os.path.join(d, f), "rb") as fh:
                        lines.extend(fh.read().splitlines())
            expect(f"{k} features", len(lines), self.meta[k])
            digests[k] = multiset_digest(lines)
        expect("quarantined nodes", result["quarantine"].count(), self.meta["quarantine"])
        for df in result.get("_cached", ()):
            df.unpersist()
        return {"digest": digests,
                "stored_bytes_per_input_byte": tree_size(out)[1] / self.meta["input_bytes"]}


# -------------------------------------------------------------- image_tiles
N_BUCKETS = 16
ZOOM = 7
S2_LEVEL = 12
S2_PARENT = 6


def with_s2_parent(df):
    """Arrow-batched S2 encode of (lon, lat), rolled up to a parent cell."""
    cell = S2.s2_udf(S2_LEVEL)(F.col("lon"), F.col("lat"))
    return df.withColumn("s2_parent", S2.parent_expr(cell, S2_PARENT))


class ImageTiles(Workload):
    name = "image_tiles"
    sizes = {"full": 120, "smoke": 20}
    # a pass is ~12 s of mostly fixed job overhead; two timed passes keep
    # the run inside a benchmark round's time budget on a slow host
    min_timed = 2

    def prepare(self, spark, cache_root, seed, size):
        self.path, self.meta, synth_s = inputs.image_inputs(cache_root, seed, size)
        self.region = spark.createDataFrame([(k,) for k in range(5)], "r_regionkey long")
        return synth_s

    @property
    def records(self):
        return self.meta["images"]

    def _bucket(self):
        return F.pmod(F.xxhash64("image_id"), F.lit(N_BUCKETS))

    def _stage_fn(self, crash: bool, wrap=None):
        """run_pipeline's validate stage function; with ``crash`` it
        raises when asked for the third wave."""
        calls = [0]

        def fn(df):
            calls[0] += 1
            if crash and calls[0] == 3:
                raise InjectedCrash("third wave")
            out = validate_images(df.drop("_bucket")).withColumn(
                "_bucket", self._bucket().cast("int"))
            return wrap(out) if wrap else out

        return fn

    def _spatial(self, good):
        pts = self.imgs.select("image_id", "lon", "lat").join(
            good.select("image_id"), "image_id")
        return point_in_polygon_join(pts, Q.region_boxes(self.region), res=ZOOM)

    @staticmethod
    def _rollup(cells):
        # run_pipeline's (poly, tile) rollup, keyed by S2 parent cell too
        return cells.groupBy("poly_id", "tile_id", "s2_parent").agg(
            F.count("*").alias("n_images"), F.min("image_id").alias("first_image"))

    def run(self, spark, out, reference=False):
        self.imgs = spark.read.parquet(self.path)
        bucket = self._bucket()
        fn = self._stage_fn(crash=not reference)
        if not reference:
            try:
                run_bucketed_stage(spark, out, "validate", self.imgs, fn, bucket,
                                   n_buckets=N_BUCKETS)
            except InjectedCrash:
                pass
            else:
                raise CheckFailed("the injected crash did not fire")
        t_resume = time.perf_counter()
        validated = run_bucketed_stage(spark, out, "validate", self.imgs, fn, bucket,
                                       n_buckets=N_BUCKETS)
        good, bad = quarantine_split(validated)
        n_good, n_bad = good.count(), bad.count()
        write_metrics(spark, out, "validate", {"rows_ok": n_good, "rows_quarantined": n_bad})
        rollup = run_stage(spark, out, "tile_rollup",
                           lambda: self._rollup(with_s2_parent(
                               TI.assign_tiles(self._spatial(good), zoom=ZOOM))))
        n_tiles = rollup.count()
        write_metrics(spark, out, "pipeline", {"tiles": n_tiles})
        return {"resume_s": time.perf_counter() - t_resume}

    def traced(self, spark, out, tracer, pass_id, reference=False):
        self.imgs = spark.read.parquet(self.path)
        bucket = self._bucket()
        cached = []

        def forced_validate(df):
            with tracer.span("operators.images", pass_id) as sp:
                df, sp.counts["rows_out"] = _force(df)
            cached.append(df)
            waves[0] += 1
            return df

        waves = [0]
        fn = self._stage_fn(crash=not reference, wrap=forced_validate)
        if not reference:
            try:
                with tracer.span("plans.checkpoint", pass_id):
                    run_bucketed_stage(spark, out, "validate", self.imgs, fn, bucket,
                                       n_buckets=N_BUCKETS)
            except InjectedCrash:
                pass
            else:
                raise CheckFailed("the injected crash did not fire")
        t_resume = time.perf_counter()
        with tracer.span("plans.checkpoint", pass_id) as sp:
            validated = run_bucketed_stage(spark, out, "validate", self.imgs, fn, bucket,
                                           n_buckets=N_BUCKETS)
            sp.counts["rows_out"] = validated.count()
        with tracer.span("operators.images", pass_id) as sp:
            good, bad = quarantine_split(validated)
            n_good, n_bad = good.count(), bad.count()
            sp.counts.update(ok=n_good, seen=n_good + n_bad)
        with tracer.span("plans.checkpoint", pass_id):
            write_metrics(spark, out, "validate",
                          {"rows_ok": n_good, "rows_quarantined": n_bad})
        with tracer.span("spatial.pip", pass_id) as sp, capture_broadcasts(spark, sp):
            hits, n_hits = _force(self._spatial(good))
            sp.counts.update(rows_out=n_hits, hits=n_hits)
        with tracer.span("spatial.tiles", pass_id) as sp:
            tiled, sp.counts["rows_out"] = _force(TI.assign_tiles(hits, zoom=ZOOM))
        with tracer.span("functions.s2", pass_id) as sp:
            cells, sp.counts["rows_out"] = _force(with_s2_parent(tiled))
        with tracer.span("plans.checkpoint", pass_id) as sp:
            rollup = run_stage(spark, out, "tile_rollup", lambda: self._rollup(cells))
            n_tiles = rollup.count()
            write_metrics(spark, out, "pipeline", {"tiles": n_tiles})
            sp.counts.update(rows_out=n_tiles, waves=waves[0],
                             **dict(zip(("files_written", "bytes_written"), tree_size(out))))
        for df in (*cached, hits, tiled, cells):
            df.unpersist()
        return {"resume_s": time.perf_counter() - t_resume}

    def check(self, spark, out, result):
        validated = spark.read.parquet(f"{out}/validate/data").collect()
        rollup = spark.read.parquet(f"{out}/tile_rollup/data").collect()
        expect("validated rows", len(validated), self.meta["images"])
        expect("distinct validated ids", len({r["image_id"] for r in validated}),
               self.meta["images"])
        expect("ok rows", sum(r["ok"] for r in validated), self.meta["ok"])
        expect("quarantined rows", sum(not r["ok"] for r in validated),
               self.meta["quarantine"])
        expect("PIP hits in the rollup", sum(r["n_images"] for r in rollup),
               self.meta["hits"])
        return {"digest": {"validate": multiset_digest(tuple(r) for r in validated),
                           "tile_rollup": multiset_digest(tuple(r) for r in rollup)},
                "resume_s": result["resume_s"],
                "stored_bytes_per_input_byte": tree_size(out)[1] / self.meta["input_bytes"]}


# -------------------------------------------------------------- point_tiles
PIP_RES = 10
_ROLLUP_COLS = ("poly_id", "tile_id", "s2_parent", "n_points", "first_pt")


class PointTiles(Workload):
    name = "point_tiles"
    sizes = {"full": 125_000, "smoke": 2_000}

    def prepare(self, spark, cache_root, seed, size):
        self.path, self.meta, synth_s = inputs.point_inputs(cache_root, seed, size, spark)
        self.zones = spark.createDataFrame(
            inputs.zone_rows(), "poly_id string, ring array<struct<lon:double,lat:double>>")
        return synth_s

    @property
    def records(self):
        return self.meta["points"]

    @staticmethod
    def _rollup(tiled):
        return with_s2_parent(tiled).groupBy("poly_id", "tile_id", "s2_parent").agg(
            F.count("*").alias("n_points"), F.min("pt_id").alias("first_pt"))

    @staticmethod
    def _sink(rolled) -> Observation:
        obs = Observation("perfbench_check")
        rolled.observe(
            obs, F.count(F.lit(1)).alias("groups"), F.sum("n_points").alias("hits"),
            F.sum(F.xxhash64(*_ROLLUP_COLS).cast("decimal(38,0)")).alias("digest"),
        ).write.format("noop").mode("overwrite").save()
        return obs

    def run(self, spark, out, reference=False):
        pts = spark.read.parquet(self.path)
        hits = point_in_polygon_join(pts, self.zones, res=PIP_RES)
        return {"obs": self._sink(self._rollup(TI.assign_tiles(hits, zoom=ZOOM)))}

    def traced(self, spark, out, tracer, pass_id, reference=False):
        pts = spark.read.parquet(self.path)
        with tracer.span("spatial.pip", pass_id) as sp, capture_broadcasts(spark, sp):
            hits, n = _force(point_in_polygon_join(pts, self.zones, res=PIP_RES))
            sp.counts.update(rows_out=n, hits=n)
        with tracer.span("spatial.tiles", pass_id) as sp:
            tiled, sp.counts["rows_out"] = _force(TI.assign_tiles(hits, zoom=ZOOM))
        with tracer.span("functions.s2", pass_id) as sp:
            obs = self._sink(self._rollup(tiled))
            sp.counts["rows_out"] = obs.get["groups"]
        hits.unpersist()
        tiled.unpersist()
        return {"obs": obs}

    def check(self, spark, out, result):
        got = result["obs"].get
        expect("PIP hits", got["hits"], self.meta["hits"])
        return {"digest": {"groups": got["groups"], "rollup": str(got["digest"])}}


@contextmanager
def capture_broadcasts(spark, span):
    """Adds the pickled size of each Python broadcast made inside the
    block to ``span.counts['py_broadcast_bytes']``."""
    sc_cls = type(spark.sparkContext)
    orig = sc_cls.broadcast

    def broadcast(sc, value):
        b = orig(sc, value)
        span.counts["py_broadcast_bytes"] = (span.counts.get("py_broadcast_bytes", 0)
                                             + os.path.getsize(b._path))
        return b

    sc_cls.broadcast = broadcast
    try:
        yield
    finally:
        sc_cls.broadcast = orig


WORKLOADS = {w.name: w for w in (OsmEtl, ImageTiles, PointTiles)}

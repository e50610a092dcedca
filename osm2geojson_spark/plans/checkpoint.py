"""Checkpoint / resume orchestration with per-partition lineage (M5).

The reference's restartability model is "each stage is a file on disk"
(OsmJoin.java:423-461: six named gz datasets; a crashed run restarts from
the last completed file). This module is the distributed generalization:

- ``run_stage``     — stage-level checkpoint: compute → atomic parquet
  snapshot + manifest; a completed stage is never recomputed (resume =
  read).
- ``run_bucketed_stage`` — PARTITION-level checkpoint (north_rule
  "resumable from per-partition checkpoints with lineage"): the stage is
  bucketed on a key column; each completed bucket is recorded in the
  lineage table; resume recomputes ONLY missing buckets and appends.
  Both layouts (plain parquet, Iceberg-style snapshots) run the same
  wave loop; they differ only in how a wave is appended and how the
  done set is read.

Counts come from the write itself: every stage write carries an
``Observation`` (``count(1)`` for a stage, one ``count_if(_bucket = b)``
per bucket of a wave), so the manifest and lineage row counts cost no
second pass over the written data. A retried task's partial counts are
discarded with its attempt, like any non-internal accumulator.

The bookkeeping tables ``<root>/_lineage`` and ``<root>/_metrics`` hold a
few rows per wave, so the calling process reads and appends them with
pyarrow — no Spark job. Each append writes one ``.``-prefixed part and
renames it to ``part-<uuid>.parquet``; Spark and pyarrow both skip ``.``
and ``_`` names, so no reader sees a half-written part. ``lineage_table``
/ ``metrics_table`` return Spark DataFrames over the same directories
(Iceberg-ready layout: swap the writer for ``format("iceberg")`` where
the runtime jar is available, SURVEY.md §7 risk 7).

Atomicity: data lands in ``<stage>.tmp-<token>`` and is renamed into
place before the manifest/lineage row is written — a crash mid-write
leaves no half-visible stage (same discipline as SortingWriter's bucket
swap, SortingWriter.java:88-115).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

# the column types Spark-written parts of these tables already carry
_LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()), ("bucket", pa.int32()), ("n_rows", pa.int64()),
    ("wall_ms", pa.int64()), ("finished_at", pa.string()), ("status", pa.string()),
])
_METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()), ("name", pa.string()), ("value", pa.float64()),
    ("ts", pa.string()),
])


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_MANIFEST.json")


def _data_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "data")


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


def stage_is_complete(root: str, stage: str) -> bool:
    return os.path.exists(_manifest_path(root, stage))


def run_stage(
    spark: SparkSession, root: str, stage: str,
    fn: Callable[[], DataFrame],
) -> DataFrame:
    """Stage-level checkpoint: returns the stage output, computing it only
    if no completed snapshot exists."""
    data = _data_path(root, stage)
    if stage_is_complete(root, stage):
        return spark.read.parquet(data)
    t0 = time.perf_counter()
    df = fn()
    obs = Observation()
    tmp = data + ".tmp-" + uuid.uuid4().hex[:8]
    df.observe(obs, F.count(F.lit(1)).alias("n_rows")) \
        .write.mode("overwrite").parquet(tmp)
    if os.path.exists(data):
        shutil.rmtree(data)
    os.rename(tmp, data)
    manifest = {
        "stage": stage, "n_rows": obs.get["n_rows"],
        "schema": df.schema.jsonValue(),
        "wall_ms": int((time.perf_counter() - t0) * 1000),
        "finished_at": _now(),
    }
    mp = _manifest_path(root, stage)
    with open(mp + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.rename(mp + ".tmp", mp)
    return spark.read.parquet(data)


# ------------------------------------------------------- bookkeeping tables
def _parts(root: str, table: str) -> list[str]:
    """Visible part files of a bookkeeping table: Spark's own (older
    runs) and pyarrow's, never ``.``/``_`` in-flight or marker files."""
    d = os.path.join(root, table)
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in sorted(os.listdir(d))
            if not f.startswith((".", "_"))]


def _append(root: str, table: str, schema: pa.Schema, rows: list[tuple]) -> None:
    d = os.path.join(root, table)
    os.makedirs(d, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(d, "." + name)
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema), tmp)
    os.rename(tmp, os.path.join(d, name))


def _spark_table(spark: SparkSession, root: str, table: str,
                 schema: pa.Schema) -> DataFrame:
    if not _parts(root, table):
        return spark.createDataFrame([], from_arrow_schema(schema))
    return spark.read.parquet(os.path.join(root, table))


# ------------------------------------------------------------------ lineage
def lineage_table(spark: SparkSession, root: str) -> DataFrame:
    return _spark_table(spark, root, "_lineage", _LINEAGE_SCHEMA)


def _append_lineage(root: str, rows: list[tuple]) -> None:
    _append(root, "_lineage", _LINEAGE_SCHEMA, rows)


def completed_buckets(spark: SparkSession, root: str, stage: str) -> set[int]:
    return {
        r["bucket"]
        for p in _parts(root, "_lineage")
        for r in pq.read_table(p, columns=["stage", "bucket", "status"]).to_pylist()
        if r["stage"] == stage and r["status"] == "done"
    }


def run_bucketed_stage(
    spark: SparkSession, root: str, stage: str,
    input_df: DataFrame,
    fn: Callable[[DataFrame], DataFrame],
    bucket_expr,
    n_buckets: int = 16,
    buckets_per_wave: int = 4,
    layout: str = "parquet",
) -> DataFrame:
    """Per-partition checkpoint + resume.

    ``bucket_expr``: a Column mapping each INPUT row to its bucket in
    [0, n_buckets) — must be deterministic (hash of a stable key).
    ``fn`` must be bucket-local (row's output bucket == input bucket),
    which holds for any per-row/per-group transform keyed within the
    bucket column.

    Missing buckets are processed in WAVES of ``buckets_per_wave`` — each
    wave is one Spark job whose output is appended under ``_bucket=<b>``
    partition dirs and then recorded in the lineage table, with per-bucket
    row counts observed during that same write. A crash (or a thrown
    exception) between waves loses at most one wave; the next call reads
    the done set and recomputes ONLY the still-missing buckets. Set
    ``buckets_per_wave=1`` for strict per-partition granularity,
    ``=n_buckets`` for a single job. When every bucket's output is
    empty no data file exists, and the result is an empty frame with
    ``fn``'s output schema.

    Atomicity — two layouts behind the same interface:

    - ``layout="parquet"`` (default): the lineage table is the SINGLE
      source of bucket visibility. A crash in the window between a
      wave's parquet append and its lineage append leaves orphan
      ``_bucket=<b>`` dirs; resume deletes every bucket dir NOT recorded
      done before recomputing, so the recompute can never append a
      second copy.
    - ``layout="iceberg"``: each wave is one snapshot commit of an
      :class:`~osm2geojson_spark.plans.iceberg_layout.IcebergLikeTable`
      (manifest + metadata + atomic version-hint swap). Bucket
      visibility IS snapshot membership — a crash anywhere before the
      hint swap leaves invisible orphan files, no sweep needed; resume
      reads committed buckets from manifests (metadata-only). Lineage
      rows are still appended for observability but are not the
      authority."""
    if layout == "iceberg":
        from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

        tbl = IcebergLikeTable(os.path.join(root, stage))
        done = iceberg_completed_buckets(root, stage)

        def append(out: DataFrame, wave: list[int]) -> None:
            tbl.append(out, partition_by="_bucket",
                       summary={"stage": stage, "buckets": wave})

        def result() -> DataFrame | None:
            return tbl.read(spark) if tbl.plan_files()[1] else None
    else:
        data = _data_path(root, stage)
        done = completed_buckets(spark, root, stage)
        for b in set(range(n_buckets)) - done:
            orphan = os.path.join(data, f"_bucket={b}")
            if os.path.exists(orphan):
                shutil.rmtree(orphan)

        def append(out: DataFrame, wave: list[int]) -> None:
            out.write.mode("append").partitionBy("_bucket").parquet(data)

        def result() -> DataFrame | None:
            return (spark.read.parquet(data)
                    if glob.glob(os.path.join(data, "_bucket=*")) else None)

    missing = sorted(set(range(n_buckets)) - done)
    out = None
    for w in range(0, len(missing), buckets_per_wave):
        wave = missing[w:w + buckets_per_wave]
        t0 = time.perf_counter()
        todo = input_df.withColumn("_bucket", bucket_expr.cast("int")) \
            .filter(F.col("_bucket").isin(wave))
        out = fn(todo)
        if "_bucket" not in out.columns:
            raise ValueError("fn must preserve the _bucket column")
        obs = Observation()
        append(out.observe(obs, *[F.count_if(F.col("_bucket") == b).alias(str(b))
                                  for b in wave]), wave)
        counts = obs.get
        wall = int((time.perf_counter() - t0) * 1000)
        now = _now()
        _append_lineage(root, [
            (stage, b, counts[str(b)], wall, now, "done") for b in wave
        ])
    rows = result()
    if rows is not None:
        return rows
    # every bucket came out empty, so no file was written: an empty frame
    # with fn's output schema, _bucket last as a partitioned read has it
    if out is None:
        out = fn(input_df.withColumn("_bucket", bucket_expr.cast("int")).limit(0))
    schema = out.schema
    return spark.createDataFrame([], T.StructType(
        [f for f in schema.fields if f.name != "_bucket"] + [schema["_bucket"]]))


def iceberg_completed_buckets(root: str, stage: str) -> set[int]:
    """Committed buckets from snapshot summaries (metadata-only, no data
    IO). Summaries — not manifest partitions — are the authority so that
    a committed wave whose bucket produced ZERO rows (no data file) still
    counts as done."""
    from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

    tbl = IcebergLikeTable(os.path.join(root, stage))
    out: set[int] = set()
    for s in tbl.snapshots():
        out.update(int(b) for b in s.get("summary", {}).get("buckets", []))
    # after expire_snapshots, old summaries are gone but the data files
    # survive in the current snapshot's manifests — recover non-empty
    # buckets from partition values so resume never re-appends them
    out.update(int(dict(p)["_bucket"]) for p in tbl.partitions())
    return out


# ------------------------------------------------------------------ metrics
def write_metrics(spark: SparkSession, root: str, stage: str,
                  metrics: dict[str, float]) -> None:
    """Append one metrics row per key (A2/A3 counters → metrics table,
    replacing LoggingCounter/EnumCounter logs)."""
    now = _now()
    _append(root, "_metrics", _METRICS_SCHEMA,
            [(stage, k, float(v), now) for k, v in metrics.items()])


def metrics_table(spark: SparkSession, root: str) -> DataFrame:
    return _spark_table(spark, root, "_metrics", _METRICS_SCHEMA)

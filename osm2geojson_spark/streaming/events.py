"""Structured Streaming layer (engine addition — the reference is strictly
batch, SURVEY.md §2.7: "no streaming, no watermarks, no windows").

The streaming ops are the incremental twins of the batch catalog:

- :func:`hourly_counts_stream`  ↔ queries.q_events_hourly — tumbling
  window + watermark (late rows beyond the watermark are dropped, state
  is bounded).
- :func:`sessionize_stream` ↔ queries.q_sessionize — gap-based sessions
  via ``applyInPandasWithState`` (GroupState timeout = the 30-min gap).
- :func:`stream_events_from_parquet` — replays the events parquet as a
  file-source stream for tests (Trigger.AvailableNow ⇒ bounded runs).

It also holds the substrate every ``streaming/*`` twin starts from:
:func:`file_stream` (the one file-drop reader), :func:`run_available_now`
(the one bounded launcher), :func:`upsert_latest` (the last-write-wins
merge of the route and raster twins) and :func:`versioned_batches`
(``batch_id``-versioned state, one parquet version per micro-batch, for
the mosaic and shot-dedup twins).

At scale: the same code runs against Kafka by swapping the reader; state
store size is bounded by (users × open sessions) for sessionize and
(watermark horizon / window) for the windowed agg.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable, Iterator
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from osm2geojson_spark.session import owned


def file_stream(spark: SparkSession, path: str, schema: StructType | str,
                max_files_per_trigger: int) -> DataFrame:
    """File-drop source: a parquet directory read as a stream, each
    micro-batch picking up at most ``max_files_per_trigger`` newly
    landed files (in modification-time order)."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def run_available_now(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` under Trigger.AvailableNow and wait for it: the
    query drains every file present at start, then stops (the bounded
    test and catch-up form; a continuous deployment drops the trigger)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def upsert_latest(table: DataFrame, batch: DataFrame, keys: list[str],
                  cols: list[Column]) -> tuple[DataFrame, DataFrame]:
    """Last-write-wins upsert of one micro-batch into a cached table.
    The batch is projected to ``cols`` and deduped per ``keys``, keeping
    the row with the highest ``seq`` (a batch without ``seq`` keeps any
    one); those rows then replace the table's rows with the same keys.
    Returns ``(upserts, merged table)``, both eagerly local-checkpointed
    so the next micro-batch starts from materialized state."""
    seq = F.col("seq") if "seq" in batch.columns else F.lit(0)
    ups = (
        batch.select(*cols, seq.cast("long").alias("_seq"))
        .withColumn("_r", F.row_number().over(
            Window.partitionBy(*keys).orderBy(F.desc("_seq"))))
        .where(F.col("_r") == 1)
        .drop("_r", "_seq")
        .localCheckpoint(eager=True)
    )
    merged = (table.join(ups.select(*keys), keys, "left_anti")
              .unionByName(ups)
              .localCheckpoint(eager=True))
    return ups, merged


def _local_dir(state_dir: str) -> str:
    """``state_dir`` as a local path. State versions are found with a
    local ``glob``, which sees nothing on a remote store, so a non-local
    ``state_dir`` (s3a://, hdfs://) raises instead of silently
    restarting the state from v=0."""
    u = urlparse(state_dir)
    if u.scheme not in ("", "file"):
        raise ValueError(
            f"state_dir must be a local path, got {state_dir!r}")
    return u.path if u.scheme else state_dir


def state_versions(state_dir: str) -> list[int]:
    """The ``v=N`` state versions under ``state_dir``, ascending."""
    return sorted(int(p.rsplit("=", 1)[1])
                  for p in glob.glob(f"{_local_dir(state_dir)}/v=*"))


def versioned_batches(
    state_dir: str,
    body: Callable[[DataFrame, int, list[str]], None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch handler for state kept as one parquet version per
    micro-batch, ``state_dir/v={batch_id}``. Batch ``b`` calls
    ``body(batch_df, b, below)``, where ``below`` lists the paths of the
    versions under ``b``, oldest first; ``body`` writes ``v=b`` last
    (overwrite), never an older version. A replayed ``batch_id`` whose
    version is already committed does nothing, so a restart that
    re-delivers a batch counts it once. ``body`` runs inside ``owned``:
    what it persists is released when it returns. ``state_dir`` must be
    local; a remote one raises here, before any stream starts."""
    local = _local_dir(state_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(f"{local}/v={batch_id}/_SUCCESS"):
            return  # a replay of a batch whose state is committed
        below = [f"{state_dir}/v={v}" for v in state_versions(state_dir)
                 if v < batch_id]
        with owned(batch_df.sparkSession):
            body(batch_df, batch_id, below)

    return handle


def stream_events_from_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver-generated events table. The
    file source needs a DIRECTORY; the testdata table is a single file,
    so it is staged into a temp dir once (content-addressed, idempotent)."""
    import hashlib
    import os
    import shutil
    import tempfile

    src = f"{sf_dir}/events.parquet"
    path = src
    if os.path.isfile(src):
        tag = hashlib.md5(src.encode()).hexdigest()[:10]
        path = os.path.join(tempfile.gettempdir(), f"stream_events_{tag}")
        if not os.path.exists(os.path.join(path, "part-0.parquet")):
            os.makedirs(path, exist_ok=True)
            shutil.copy(src, os.path.join(path, "part-0.parquet"))

    stream = file_stream(spark, path, spark.read.parquet(src).schema, 1)
    # parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP (session UTC
    # → identical wall time)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window counts + exact decimal sums, late data
    bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH").alias("hour"),
            "event_type", "n", "sum_value",
        )
    )


_SESSION_STATE_SCHEMA = "start_sec long, last_sec long, n long, session_id long"
_SESSION_OUT_SCHEMA = ("user_id long, session_id long, n_events long, "
                       "start_sec long, end_sec long")


def _make_session_fn(emit_on_timeout: bool):
    """Gap-based sessionization kernel factory (30-min gap). State = the
    open session; closed sessions are yielded immediately; open sessions
    flush on processing-time timeout when enabled."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        gap = 1800
        cols = ["user_id", "session_id", "n_events", "start_sec", "end_sec"]
        if state.hasTimedOut:
            start, last, n, sid = state.get
            state.remove()
            yield pd.DataFrame([(key[0], sid, n, start, last)], columns=cols)
            return
        secs: list[int] = []
        for pdf in pdfs:
            secs.extend(int(s) for s in pdf["sec"])
        secs.sort()
        if state.exists:
            start, last, n, sid = state.get
        else:
            start, last, n, sid = None, None, 0, 0
        closed = []
        for s in secs:
            if start is None:
                start, last, n = s, s, 1
            elif s - last > gap:
                closed.append((key[0], sid, n, start, last))
                sid, start, last, n = sid + 1, s, s, 1
            else:
                last, n = s, n + 1
        state.update((start, last, n, sid))
        if emit_on_timeout:
            state.setTimeoutDuration(gap * 1000)
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    return fn


def sessionize_stream(events: DataFrame, emit_on_timeout: bool = True) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState over user_id.

    ``emit_on_timeout=True`` (production): open sessions are flushed when
    the 30-min gap elapses in processing time — but the query then never
    self-terminates under Trigger.AvailableNow (state cleanup keeps the
    trigger alive). Tests use ``False``: sessions close only when a later
    event proves the gap, and bounded runs terminate."""
    prepared = events.select(
        "user_id", F.unix_timestamp("ts").alias("sec"))
    return prepared.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(emit_on_timeout),
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout if emit_on_timeout
                     else GroupStateTimeout.NoTimeout),
    )


def dedup_stream(events: DataFrame, keys: list[str],
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup — the incremental twin of the batch
    distinct/dedup_kv family: dropDuplicatesWithinWatermark keeps one row
    per key with state BOUNDED by the watermark horizon (a plain
    dropDuplicates on a stream would grow state forever). At 100 TB/day
    this is the dedup-at-ingest shape: state size = keys seen within the
    horizon, not keys ever seen."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         output_mode: str = "complete") -> None:
    """Bounded test helper: availableNow trigger → memory sink → await."""
    run_available_now(stream_df.writeStream.format("memory")
                      .queryName(name).outputMode(output_mode))


_GEOFENCE_STATE_SCHEMA = "last_zone long"
_GEOFENCE_OUT_SCHEMA = ("user_id long, sec long, event_id long, "
                        "from_zone long, to_zone long")


def _geofence_fn(key: tuple, pdfs: "Iterator[pd.DataFrame]",
                 state: "GroupState") -> "Iterator[pd.DataFrame]":
    """Stateful enter/exit kernel: state = the user's last zone (-1 =
    outside). Contract: per-user pings arrive in nondecreasing (sec,
    event_id) order ACROSS batches (a Kafka source key-partitioned by
    user preserves per-key order); within a batch we sort."""
    rows = []
    for pdf in pdfs:
        for sec, eid, z in zip(pdf["sec"], pdf["event_id"], pdf["zone_id"]):
            rows.append((int(sec), int(eid),
                         -1 if pd.isna(z) else int(z)))
    rows.sort()
    last = state.get[0] if state.exists else -1
    out = []
    for sec, eid, z in rows:
        if z != last:
            out.append((key[0], sec, eid,
                        None if last == -1 else last,
                        None if z == -1 else z))
            last = z
    state.update((last,))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "sec", "event_id",
                          "from_zone", "to_zone"]).astype(
            {"from_zone": "object", "to_zone": "object"})


def geofence_stream(events: DataFrame, zones: DataFrame) -> DataFrame:
    """Streaming twin of spatial/geofence.geofence_transitions: zone
    assignment is a stream-static broadcast range join (map-side, no
    stream shuffle), transitions come from applyInPandasWithState with
    O(1) state per user (the last zone). Same emission rule as batch:
    a row per null-safe zone change, first ping emits iff inside."""
    from osm2geojson_spark.spatial.geofence import assign_zones

    prepared = assign_zones(events, zones).select(
        "user_id", F.unix_timestamp("ts").alias("sec"),
        "event_id", "zone_id")
    return prepared.groupBy("user_id").applyInPandasWithState(
        _geofence_fn,
        outputStructType=_GEOFENCE_OUT_SCHEMA,
        stateStructType=_GEOFENCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tile_counts_stream(points: DataFrame, res: int = 6,
                       watermark: str = "2 hours",
                       window: str = "1 hour") -> DataFrame:
    """Streaming heatmap feed: watermarked tumbling-window ping counts
    per Morton tile — the incremental twin of the batch occupancy grid
    that feeds spatial/heatmap + spatial/contour. State is bounded by
    (watermark horizon / window) x occupied tiles; the tile id is the
    same codegen'd cell expression as batch, so a streaming row equals
    its batch-twin row exactly."""
    from osm2geojson_spark.functions import cells as C

    return (
        points.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            C.cell_expr(F.col("lon"), F.col("lat"), res).alias("tile"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH").alias("hour"),
            "tile", "n",
        )
    )


def mvt_pixel_counts_stream(points: DataFrame, res: int = 3,
                            extent: int = 4096,
                            watermark: str = "2 hours",
                            window: str = "1 hour") -> DataFrame:
    """Streaming vector-tile substrate: watermarked tumbling-window ping
    counts per (tile, pixel) at MVT quantization — the incremental twin
    of spatial/mvt.vector_tiles' map-side pixel collapse. State is
    bounded by (watermark horizon / window) × occupied pixels. Same
    codegen cell/pixel expressions as batch ⇒ row-exact twin."""
    from osm2geojson_spark.functions import cells as C

    shift = (extent - 1).bit_length()
    if 1 << shift != extent:
        raise ValueError("extent must be a power of two")
    pix_res = res + shift
    ix = C.lon_ix(F.col("lon"), pix_res)
    iy = C.lat_iy(F.col("lat"), pix_res)
    return (
        points.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            C.cell_from_ixiy(
                F.shiftright(ix, shift),
                F.shiftright(iy, shift)).alias("tile"),
            ix.bitwiseAND(F.lit(extent - 1)).alias("pxl"),
            iy.bitwiseAND(F.lit(extent - 1)).alias("pyl"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH").alias("hour"),
            "tile", "pxl", "pyl", "n",
        )
    )


def render_mvt_tiles(pixel_counts: DataFrame,
                     extent: int = 4096) -> DataFrame:
    """BATCH renderer for the pixel-count substrate: one MVT per
    (hour, tile) via Arrow applyInPandas — reused inside foreachBatch so
    streaming micro-batches render DISTRIBUTED, not on the driver."""
    import pandas as pd

    from osm2geojson_spark.spatial.mvt import point_layer_bytes

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        hour = pdf["hour"].iloc[0]
        tile = int(pdf["tile"].iloc[0])
        pixels = list(zip(pdf["pxl"].astype(int), pdf["pyl"].astype(int),
                          pdf["n"].astype(int)))
        buf = point_layer_bytes(pixels, extent=extent)
        return pd.DataFrame(
            [(hour, tile, len(pixels), int(pdf["n"].sum()), buf)],
            columns=["hour", "tile", "n_features", "n_pts", "mvt"])

    return pixel_counts.groupBy("hour", "tile").applyInPandas(
        render,
        schema="hour string, tile long, n_features long, n_pts long, "
               "mvt binary")


def mvt_stream_to_memory(pixel_counts_stream: DataFrame, name: str,
                         extent: int = 4096,
                         output_mode: str = "complete") -> None:
    """foreachBatch sink: grouped-map pandas is not stream-capable, so
    each micro-batch's finalized windows render through the BATCH
    ``render_mvt_tiles`` (still Arrow-distributed within the batch) and
    land in a global temp view for the test/consumer to read.

    ``output_mode`` caveat: the default ``complete`` is for the
    availableNow TEST path only — under complete mode the watermark
    never evicts aggregation state and every batch re-emits all
    windows, so state grows without bound on a long-running stream.
    A production continuous deployment must pass ``"append"`` (emit
    each window once, when the watermark finalizes it), which restores
    the bounded-state guarantee ``mvt_pixel_counts_stream`` documents;
    ``"update"`` is NOT accepted because re-rendering a tile on every
    partial update would publish non-final MVT bytes downstream."""
    if output_mode not in ("complete", "append"):
        raise ValueError(
            "output_mode must be 'complete' (test/availableNow only) or "
            "'append' (production; bounded state, final windows only)")

    def handle(bdf: DataFrame, batch_id: int) -> None:
        # eager localCheckpoint materializes the rendered tiles so the
        # view outlives the micro-batch's source frame
        out = render_mvt_tiles(bdf, extent=extent).localCheckpoint(eager=True)
        out.createOrReplaceGlobalTempView(name)

    run_available_now(pixel_counts_stream.writeStream.foreachBatch(handle)
                      .outputMode(output_mode))


# ------------------------------------------------------- stream-stream join
def attribution_pairs(views: DataFrame, clicks: DataFrame,
                      horizon: str = "30 minutes") -> DataFrame:
    """view→click attribution pairs within an event-time horizon — the
    canonical STREAM-STREAM inner join (works identically on batch
    frames, which is how the twin test pins it). Each side is keyed by
    user and the click must land in [view_ts, view_ts + horizon].

    Streaming semantics: callers must ``withWatermark("ts", ...)`` BOTH
    sides before calling (see ``attribution_stream``); the time-bound
    condition lets Spark evict join state once the watermark passes
    view_ts + horizon — state is bounded by the horizon, not the stream
    length. Late rows beyond the watermark are dropped (standard
    semantics); the twin test uses a horizon covering the replay span
    so batch == stream exactly."""
    v = views.select(F.col("event_id").alias("view_id"), "user_id",
                     F.col("ts").alias("view_ts"))
    c = clicks.select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user_id"),
                      F.col("ts").alias("click_ts"))
    cond = ((v["user_id"] == c["c_user_id"])
            & (c["click_ts"] >= v["view_ts"])
            & (c["click_ts"] <= v["view_ts"]
               + F.expr(f"INTERVAL {horizon}")))
    return (v.join(c, cond)
            .select("view_id", "click_id", "user_id",
                    F.expr("timestampdiff(SECOND, view_ts, click_ts)")
                    .cast("long").alias("delay_sec")))


def attribution_stream(events: DataFrame,
                       horizon: str = "30 minutes") -> DataFrame:
    """Split one event stream into view/click sides, watermark both,
    and run the stream-stream attribution join (append-mode capable)."""
    views = (events.where(F.col("event_type") == "view")
             .withWatermark("ts", horizon))
    clicks = (events.where(F.col("event_type") == "click")
              .withWatermark("ts", horizon))
    return attribution_pairs(views, clicks, horizon)

"""M5 checkpoint/resume/lineage/metrics invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.plans.checkpoint import (
    completed_buckets,
    lineage_table,
    metrics_table,
    run_bucketed_stage,
    run_stage,
    stage_is_complete,
    write_metrics,
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ckpt")


def test_run_stage_computes_once(spark, root):
    calls = []

    def make():
        calls.append(1)
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))

    a = run_stage(spark, root, "s1", make)
    assert a.count() == 100 and stage_is_complete(root, "s1")
    b = run_stage(spark, root, "s1", make)  # resume: no recompute
    assert b.count() == 100
    assert len(calls) == 1


def test_bucketed_resume_computes_only_missing(spark, root):
    src = spark.range(1000)
    bucket = F.pmod(F.col("id"), F.lit(8))
    calls: list[int] = []

    def make_fn(crash_after_waves=None):
        def fn(df):
            calls.append(1)
            if crash_after_waves is not None and len(calls) > crash_after_waves:
                raise RuntimeError("injected crash")
            return df.select("id", "_bucket", (F.col("id") * 10).alias("y"))
        return fn

    # crash after 2 waves of 2 buckets → 4 buckets durable
    with pytest.raises(RuntimeError):
        run_bucketed_stage(spark, root, "st", src, make_fn(2), bucket,
                           n_buckets=8, buckets_per_wave=2)
    assert completed_buckets(spark, root, "st") == {0, 1, 2, 3}
    assert spark.read.parquet(f"{root}/st/data").count() == 500

    # resume: only buckets 4..7 recomputed (2 more waves), appended
    calls.clear()
    out = run_bucketed_stage(spark, root, "st", src, make_fn(), bucket,
                             n_buckets=8, buckets_per_wave=2)
    assert out.count() == 1000
    assert len(calls) == 2
    assert completed_buckets(spark, root, "st") == set(range(8))
    # all buckets done → full no-op
    calls.clear()
    out2 = run_bucketed_stage(spark, root, "st", src, make_fn(), bucket,
                              n_buckets=8, buckets_per_wave=2)
    assert out2.count() == 1000 and len(calls) == 0

    lt = lineage_table(spark, root)
    assert lt.filter(F.col("stage") == "st").count() == 8
    assert {r["status"] for r in lt.collect()} == {"done"}
    assert sum(r["n_rows"] for r in lt.collect()) == 1000


@pytest.mark.parametrize("layout", ["parquet", "iceberg"])
def test_bucketed_all_buckets_empty(spark, root, layout):
    """No bucket produces a row, so no data file is ever written: the
    result is an empty frame with fn's columns, both from the call that
    ran the waves and from a later call that finds every bucket done."""
    src = spark.range(100)
    bucket = F.pmod(F.col("id"), F.lit(4))
    for _ in range(2):
        out = run_bucketed_stage(spark, root, "empty", src,
                                 lambda df: df.filter(F.lit(False)), bucket,
                                 n_buckets=4, buckets_per_wave=2, layout=layout)
        assert out.columns == ["id", "_bucket"]
        assert out.count() == 0
    assert completed_buckets(spark, root, "empty") == set(range(4))


def test_bucketed_crash_between_append_and_lineage_no_dupes(spark, root, monkeypatch):
    """ADVICE r1 (medium): a crash AFTER the wave's parquet append but
    BEFORE its lineage append must not duplicate rows on resume — orphan
    _bucket dirs are swept before recompute."""
    import osm2geojson_spark.plans.checkpoint as CK

    src = spark.range(400)
    bucket = F.pmod(F.col("id"), F.lit(4))
    real_append = CK._append_lineage
    state = {"crashed": False}

    def crashing_append(root_, rows):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash in append→lineage window")
        real_append(root_, rows)

    monkeypatch.setattr(CK, "_append_lineage", crashing_append)
    with pytest.raises(RuntimeError, match="append→lineage"):
        run_bucketed_stage(spark, root, "st2", src, lambda df: df, bucket,
                           n_buckets=4, buckets_per_wave=2)
    # data for the first wave IS on disk, but lineage never saw it
    assert completed_buckets(spark, root, "st2") == set()
    assert spark.read.parquet(f"{root}/st2/data").count() == 200

    out = run_bucketed_stage(spark, root, "st2", src, lambda df: df, bucket,
                             n_buckets=4, buckets_per_wave=2)
    assert out.count() == 400, "orphan wave data duplicated on resume"
    assert out.select("id").distinct().count() == 400
    lt = lineage_table(spark, root)
    assert sum(r["n_rows"] for r in
               lt.filter(F.col("stage") == "st2").collect()) == 400


# A task that fails on its first attempt, after some of its rows went
# through the wave's observation, and succeeds on its retry must not count
# those rows twice in the lineage. The suite's shared local[4] session
# never retries a task, so this runs in its own local[4,2] (two attempts
# per task) process. With 50-row Arrow batches, a partition that fails at
# its 195th batch has already streamed earlier batches downstream.
_RETRY_SCRIPT = r"""
import json, os, sys

from pyspark import TaskContext
from pyspark.sql import functions as F

from osm2geojson_spark.plans.checkpoint import lineage_table, run_bucketed_stage
from osm2geojson_spark.session import get_spark

root = sys.argv[1]
spark = get_spark("checkpoint-retry", master="local[4,2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.sql.execution.arrow.maxRecordsPerBatch": "50"})
src = spark.range(0, 60000, numPartitions=2)
bucket = F.pmod(F.xxhash64("id"), F.lit(8))
truth = {r[0]: r[1] for r in src.groupBy(bucket.cast("int")).count().collect()}


def failing_fn(marker):
    def fail_first_attempt(batches):
        ctx = TaskContext.get()
        for i, b in enumerate(batches):
            if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and i == 195:
                open(marker, "a").close()
                raise RuntimeError("injected task failure")
            yield b

    return lambda df: df.mapInPandas(fail_first_attempt, df.schema)


for layout in ("parquet", "iceberg"):
    run_bucketed_stage(spark, root, layout, src,
                       failing_fn(os.path.join(root, "failed-" + layout)),
                       bucket, n_buckets=8, buckets_per_wave=4, layout=layout)
lineage = [(r["stage"], r["bucket"], r["n_rows"]) for r in lineage_table(spark, root).collect()]
print(json.dumps({"truth": truth, "lineage": lineage}))
spark.stop()
"""


def test_bucketed_counts_survive_task_retry(tmp_path):
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "ckpt")
    os.makedirs(root)
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, root], capture_output=True, text=True,
        timeout=600, env={**os.environ, "PYTHONPATH": repo}, cwd=repo)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    truth = {int(b): n for b, n in got["truth"].items()}
    assert sum(truth.values()) == 60000 and len(truth) == 8
    for layout in ("parquet", "iceberg"):
        assert os.path.exists(os.path.join(root, "failed-" + layout)), \
            f"the injected task failure never fired for {layout}"
        counts = {b: n for stage, b, n in got["lineage"] if stage == layout}
        assert counts == truth, layout


def test_iceberg_bucketed_resume(spark, root):
    """run_bucketed_stage(layout='iceberg'): crash after 1 wave → resume
    recomputes only missing buckets, visibility via snapshot commits."""
    from osm2geojson_spark.plans.checkpoint import iceberg_completed_buckets

    src = spark.range(800)
    bucket = F.pmod(F.col("id"), F.lit(8))
    calls: list[int] = []

    def make_fn(crash_after=None):
        def fn(df):
            calls.append(1)
            if crash_after is not None and len(calls) > crash_after:
                raise RuntimeError("injected crash")
            return df.select("id", "_bucket", (F.col("id") * 3).alias("z"))
        return fn

    with pytest.raises(RuntimeError):
        run_bucketed_stage(spark, root, "ist", src, make_fn(1), bucket,
                           n_buckets=8, buckets_per_wave=4, layout="iceberg")
    assert iceberg_completed_buckets(root, "ist") == {0, 1, 2, 3}
    calls.clear()
    out = run_bucketed_stage(spark, root, "ist", src, make_fn(), bucket,
                             n_buckets=8, buckets_per_wave=4, layout="iceberg")
    assert out.count() == 800 and len(calls) == 1
    assert out.select("id").distinct().count() == 800
    assert {r["_bucket"] for r in out.select("_bucket").distinct().collect()} \
        == set(range(8))
    # fully done → no-op
    calls.clear()
    out2 = run_bucketed_stage(spark, root, "ist", src, make_fn(), bucket,
                              n_buckets=8, buckets_per_wave=4, layout="iceberg")
    assert out2.count() == 800 and len(calls) == 0


def test_iceberg_crash_before_hint_swap_invisible(spark, root, monkeypatch):
    """The Iceberg guarantee: kill the writer AFTER data files + manifest
    land but BEFORE the version-hint swap — the snapshot must be
    invisible (old state intact), and resume must not duplicate rows."""
    import os as _os

    import osm2geojson_spark.plans.iceberg_layout as IL

    src = spark.range(400)
    bucket = F.pmod(F.col("id"), F.lit(4))
    real_replace = _os.replace
    state = {"crashed": False}

    def crashing_replace(a, b):
        if "version-hint" in str(b) and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash before hint swap")
        return real_replace(a, b)

    monkeypatch.setattr(IL.os, "replace", crashing_replace)
    with pytest.raises(RuntimeError, match="hint swap"):
        run_bucketed_stage(spark, root, "ist2", src, lambda df: df, bucket,
                           n_buckets=4, buckets_per_wave=2, layout="iceberg")
    from osm2geojson_spark.plans.checkpoint import iceberg_completed_buckets
    from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

    # data + manifest are on disk, but the table shows NO committed state
    assert iceberg_completed_buckets(root, "ist2") == set()
    assert not IcebergLikeTable(f"{root}/ist2").exists()
    out = run_bucketed_stage(spark, root, "ist2", src, lambda df: df, bucket,
                             n_buckets=4, buckets_per_wave=2, layout="iceberg")
    assert out.count() == 400
    assert out.select("id").distinct().count() == 400, "orphan wave leaked in"


def test_iceberg_expire_snapshots_gc(spark, root):
    """Table maintenance: expiry keeps the newest snapshot's full state,
    GCs unreferenced data files + manifests (incl. crashed-commit
    orphans), and bucket-resume still sees committed buckets."""
    import glob as _glob
    import os as _os

    from osm2geojson_spark.plans.checkpoint import iceberg_completed_buckets
    from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

    src = spark.range(400)
    bucket = F.pmod(F.col("id"), F.lit(4))
    run_bucketed_stage(spark, root, "exp", src, lambda df: df, bucket,
                       n_buckets=4, buckets_per_wave=1, layout="iceberg")
    tbl = IcebergLikeTable(f"{root}/exp")
    assert len(tbl.snapshots()) == 4
    # plant an orphan (crashed commit: data file, no snapshot reference)
    orphan_dir = _os.path.join(tbl.root, "data", "deadbeef0000")
    _os.makedirs(orphan_dir)
    with open(_os.path.join(orphan_dir, "part-orphan.parquet"), "wb") as f:
        f.write(b"not really parquet")
    stats = tbl.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert stats["snapshots_removed"] == 3
    assert stats["files_removed"] >= 1           # at least the orphan
    assert len(tbl.snapshots()) == 1
    assert tbl.read(spark).count() == 400        # full data intact
    assert not _glob.glob(_os.path.join(orphan_dir, "*"))
    # resume still knows every committed bucket (via manifest partitions)
    assert iceberg_completed_buckets(root, "exp") == {0, 1, 2, 3}
    calls = []

    def fn(df):
        calls.append(1)
        return df

    out = run_bucketed_stage(spark, root, "exp", src, fn, bucket,
                             n_buckets=4, buckets_per_wave=1, layout="iceberg")
    assert out.count() == 400 and not calls


def test_iceberg_compact_small_files(spark, root):
    """Compaction: many per-wave files → one file per partition value in
    a single REPLACE commit; rows identical, bucket-resume intact,
    pre-compaction snapshot still time-travelable until expiry."""
    from osm2geojson_spark.plans.checkpoint import iceberg_completed_buckets
    from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

    src = spark.range(600)
    bucket = F.pmod(F.col("id"), F.lit(6))
    run_bucketed_stage(spark, root, "cmp", src,
                       lambda df: df.repartition(3), bucket,
                       n_buckets=6, buckets_per_wave=1, layout="iceberg")
    tbl = IcebergLikeTable(f"{root}/cmp")
    pre_snap = tbl.snapshots()[-1]["snapshot_id"]
    stats = tbl.compact(spark)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 6               # one per bucket value
    assert tbl.read(spark).count() == 600
    assert tbl.read(spark).select("id").distinct().count() == 600
    # prior snapshot still readable (time travel) until expiry
    assert tbl.read(spark, snapshot_id=pre_snap).count() == 600
    # resume still sees all buckets committed
    assert iceberg_completed_buckets(root, "cmp") == set(range(6))
    calls = []
    out = run_bucketed_stage(spark, root, "cmp", src,
                             lambda df: (calls.append(1), df)[1], bucket,
                             n_buckets=6, buckets_per_wave=1, layout="iceberg")
    assert out.count() == 600 and not calls
    # expiry GCs the old small files
    tbl.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert len(tbl._files()) == 6
    assert tbl.read(spark).count() == 600


def test_iceberg_time_travel_and_partition_pruning(spark, root):
    from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

    tbl = IcebergLikeTable(f"{root}/tt")
    df1 = spark.range(10).select("id", F.pmod("id", F.lit(2)).cast("int").alias("p"))
    s1 = tbl.append(df1, partition_by="p")
    df2 = spark.range(10, 25).select("id", F.pmod("id", F.lit(2)).cast("int").alias("p"))
    s2 = tbl.append(df2, partition_by="p")
    assert tbl.read(spark).count() == 25
    assert tbl.read(spark, snapshot_id=s1["snapshot_id"]).count() == 10
    assert s2["snapshot_id"] == s1["snapshot_id"] + 1
    assert {dict(p)["p"] for p in tbl.partitions()} == {"0", "1"}
    # partition filter prunes at the file level: only p=1 files scanned
    plan = tbl.read(spark).filter(F.col("p") == 1) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "p=0" not in plan


def test_metrics_table(spark, root):
    write_metrics(spark, root, "st", {"rows_in": 10, "rows_bad": 1})
    write_metrics(spark, root, "st", {"rows_in": 20})
    mt = metrics_table(spark, root)
    assert mt.count() == 3
    assert mt.filter(F.col("name") == "rows_in").count() == 2


def test_iceberg_commit_skips_orphan_version_file(spark, root):
    """O_EXCL optimistic concurrency (ADVICE round-2): a v{N+1} metadata
    file left by a crashed/concurrent writer whose hint swap never
    landed must not be overwritten OR resurrected — the next commit
    probes past it and rebases on the COMMITTED metadata only."""
    import json as _json
    import os as _os

    from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

    tbl = IcebergLikeTable(f"{root}/excl")
    tbl.append(spark.range(10))
    v = tbl.current_version()
    # plant an orphan at v+1 (uncommitted attempt: no hint swap)
    orphan_path = _os.path.join(tbl.meta_dir, f"v{v + 1}.metadata.json")
    orphan_md = dict(tbl._metadata(),
                     snapshots=[{"snapshot_id": 999, "manifests": [],
                                 "added_files": 0, "timestamp": "x",
                                 "summary": {"orphan": True}}])
    with open(orphan_path, "w") as f:
        _json.dump(orphan_md, f)

    snap = tbl.append(spark.range(5))
    assert tbl.current_version() == v + 2          # probed past the orphan
    ids = [s["snapshot_id"] for s in tbl.snapshots()]
    assert 999 not in ids and snap["snapshot_id"] in ids
    assert tbl.read(spark).count() == 15
    # the orphan file itself is untouched (GC'd later by expiry)
    with open(orphan_path) as f:
        assert _json.load(f)["snapshots"][0]["summary"] == {"orphan": True}

"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set cluster-side: AQE on (runtime
join re-planning + skew splitting replaces the reference's hand-tuned
bucketSize knobs, SortingWriter.java:70-153), shuffle partitions sized to
cores not the 200 default, Arrow enabled for every pandas-UDF kernel,
UTC session timezone so DuckDB-oracle comparisons are stable.

Cache lifetimes have one owner, ``owned`` (the engine's counterpart of
the reference's ``SortingWriter.close()`` deleting its spill dir,
SortingWriter.java:151): every engine persist goes through ``persist``,
and a run inside ``with owned(spark):`` leaves no cached plan and no
local checkpoint behind.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark import RDD, StorageLevel
from pyspark.sql import DataFrame, SparkSession

#: one list of recorded frames per active ``owned`` block, innermost
#: last; ``persist`` records into the innermost. Process-wide, not
#: thread-local: a stream's foreachBatch body runs on another thread but
#: belongs to the block that started the stream.
_BLOCKS: list[list[DataFrame | RDD]] = []


def _driver_memory() -> str:
    """Default ``spark.driver.memory``: 40% of physical memory in whole
    GiB, 1g to 24g. In local mode the driver JVM is the whole engine, and
    a heap near the host's memory grows until the kernel kills it (a
    fixed 24g did, after 144 oracle entries on a 15 GB host)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24, max(1, int(phys * 0.4) >> 30))}g"


def get_spark(
    app: str = "osm2geojson_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    falling back to ``local[*]``. On a real cluster this function is a
    no-op passthrough: spark-submit owns master/memory and only the SQL
    confs below apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
        elif "PYSPARK_GATEWAY_PORT" in os.environ:
            # launched BY spark-submit: the submit conf owns the master —
            # setting one here would override --master. Leave unset.
            master = None
        else:
            master = "local[*]"
    if shuffle_partitions is None:
        # local mode: match parallelism, not the 200 default (AQE
        # coalesces further). Cluster mode (yarn/k8s/standalone): leave
        # None → keep Spark's default / spark-submit conf; AQE's
        # coalescePartitions owns the effective number at runtime.
        if master is not None and master.startswith("local"):
            try:
                n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
            except ValueError:
                n = 0
            shuffle_partitions = n if n > 0 else (os.cpu_count() or 8)

    b = SparkSession.builder.appName(app)
    if master is not None:
        b = b.master(master)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def persist(df: DataFrame | RDD, level: StorageLevel | None = None):
    """``df.persist(level)`` for a DataFrame or an RDD; inside an
    ``owned`` block a plan that was not already cached is also recorded
    there, so the block releases it. Outside a block this is exactly
    ``df.persist()``."""
    if _BLOCKS:
        cur = df.getStorageLevel() if isinstance(df, RDD) else df.storageLevel
        if cur == StorageLevel.NONE:
            _BLOCKS[-1].append(df)
    return df.persist() if level is None else df.persist(level)


@contextmanager
def owned(spark: SparkSession):
    """Own every cache a run makes: on exit, unpersist (blocking) the
    frames ``persist`` recorded in the block, newest first, then
    every persistent RDD created in the block that is a local checkpoint
    (``DataFrame.unpersist`` does not release those).

    A DataFrame persist is never released at RDD level: that leaves its
    CacheManager entry behind, and a later persist of the same plan
    would then cache nothing. Results must be consumed (collected,
    written, counted) INSIDE the block: a locally checkpointed result
    cannot be recomputed once its block has exited.

    Yields the cache state at entry, ``(persistent RDD ids, CacheManager
    entry count)``, for residue checks."""
    jsc = spark.sparkContext._jsc
    before = (frozenset(jsc.getPersistentRDDs().keySet()),
              spark._jsparkSession.sharedState().cacheManager()
              .numCachedEntries())
    frames: list[DataFrame | RDD] = []
    _BLOCKS.append(frames)
    try:
        yield before
    finally:
        _BLOCKS.pop()
        for df in reversed(frames):
            df.unpersist(True)
        for rid, jrdd in jsc.getPersistentRDDs().items():
            if rid not in before[0] and jrdd.rdd().isLocallyCheckpointed():
                jrdd.unpersist(True)

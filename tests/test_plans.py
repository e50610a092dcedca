"""Physical-plan audits: the claims in BENCH.md, asserted.

These tests pin the PLAN SHAPE, not timing — a regression that inserts an
extra shuffle or loses a broadcast breaks them long before a benchmark
would notice on small data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_pip_points_side_never_shuffles(spark):
    """G2 plan: scan → cell expr → BroadcastHashJoin → Arrow residual.
    The ONLY exchanges allowed are the broadcast of the cover map and the
    final aggregation — never a hash/range repartition of the points."""
    df = Q.q_pip_join(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # points flow: no Exchange between the parquet scan and the join
    pre_join = plan.split("BroadcastHashJoin")[-1]  # children appear after
    scan_side = [ln for ln in pre_join.splitlines() if "parquet" in ln.lower()]
    assert scan_side, "expected parquet scan under the join"
    assert "Exchange hashpartitioning" not in pre_join.split("BroadcastExchange")[0]


def test_tile_assign_is_narrow(spark):
    """G4: tile assignment itself adds no exchange; the histogram's single
    exchange is the partial→final agg boundary."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    from osm2geojson_spark.spatial.tiles import assign_tiles, tile_histogram

    narrow = assign_tiles(
        ev.select("event_id", Q.lon_col(F.col("event_id")).alias("lon"),
                  Q.lat_col(F.col("event_id")).alias("lat")), zoom=6)
    assert "Exchange" not in plan_of(narrow)
    hist = tile_histogram(
        ev.select("event_id", Q.lon_col(F.col("event_id")).alias("lon"),
                  Q.lat_col(F.col("event_id")).alias("lat")), zoom=6)
    assert plan_of(hist).count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan_of(hist) or "HashAggregate" in plan_of(hist)


def test_star_join_broadcasts_all_dims(spark):
    plan = plan_of(Q.q_star_join(spark, SF))
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_agg_and_pushdown(spark):
    df = Q.q_pricing_summary(spark, SF)
    fmt = formatted(df)
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,45.0)" in fmt
    # column pruning: only the 6 referenced columns are read
    read = [ln for ln in fmt.splitlines() if "ReadSchema" in ln][0]
    for c in ("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
              "l_discount", "l_tax"):
        assert c in read
    assert "l_orderkey" not in read and "l_shipdate" not in read
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1  # one agg shuffle


def test_whole_stage_codegen_covers_scan_and_agg(spark):
    df = Q.q_pricing_summary(spark, SF)
    fmt = formatted(df)
    assert "partial_sum" in fmt  # map-side combine before the exchange
    df.collect()  # AQE finalizes the plan; codegen stages appear after run
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed  # WholeStageCodegen stage markers


def test_cell_expr_stays_jvm_side(spark):
    """G1 is pure column expressions — no Python evaluation nodes."""
    plan = plan_of(Q.q_cell_encode(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_knn_topk_uses_single_window_per_round(spark):
    plan = plan_of(Q.q_knn_bruteforce(spark, SF))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan \
        or "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed tables join WITHOUT a shuffle on either side
    (the write-once-join-many layout for 100 TB fact tables)."""
    from osm2geojson_spark.plans.bucketing import write_bucketed

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    write_bucketed(orders.withColumnRenamed("o_orderkey", "k"), "b_orders", "k", 8)
    write_bucketed(li.withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the test tables are broadcast-small; disable broadcast to
        # exercise the large-large path bucketing exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(spark.table("b_orders"), "k")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan          # co-located: zero shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_vocab_topk_is_take_ordered(spark):
    """Vocab build: the final top-k must be TakeOrderedAndProject
    (per-partition top-k + driver merge), NOT a global Sort+Limit."""
    plan = plan_of(Q.q_vocab_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # tok agg (+distinct)


def test_term_salience_broadcasts_df_table(spark):
    """tf/df salience: the corpus document-frequency table is vocab-sized
    → must broadcast to the per-doc counts, never a shuffled join."""
    plan = plan_of(Q.q_term_salience(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_stats_partial_aggs(spark):
    """Per-doc aggs keep map-side partial aggregation (two-phase
    HashAggregate) so the shuffle carries (doc,tok) partials only."""
    plan = plan_of(Q.q_repetition_stats(spark, SF))
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "partial" in plan


def test_aqe_splits_skewed_join(spark):
    """Scale evidence for the north rule's 'AQE skew handling for hot
    cells': a join keyed 90% on one value must get its skewed partition
    SPLIT at runtime (skew=true in the final adaptive plan), with
    thresholds lowered so small test data exhibits it."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 64).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pay"))
        small = spark.range(64).select(F.col("id").alias("k"),
                                       F.lit("dim").alias("d"))
        # downstream agg on a NON-join key: a groupBy on k would reuse the
        # join's hash distribution, and AQE (correctly) refuses to split
        # skew when the split would force an extra exchange
        agg = big.join(small, "k").groupBy(
            F.length("pay").alias("L")).agg(F.count("*").alias("n"))
        # collect() finalizes THIS DataFrame's own query execution (a
        # noop write would execute a separate QE, leaving this plan
        # isFinalPlan=false)
        assert agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not mark/split the skewed join"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_way_bbox_adds_no_exchange_beyond_assembly(spark):
    """Feature enrichment must stay narrow: the bbox array-exprs run on
    the already-collected chain, so the plan has exactly the two
    exchanges way assembly itself pays (edge join + groupBy collect)."""
    plan = plan_of(Q.q_way_bbox(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2


def test_fused_sssp_edge_side_no_per_round_exchange(spark):
    """Δ-stepping cogroup: the persisted edge table's hash partitioning
    on the block id must satisfy the cogroup's distribution — the only
    Exchange under FlatMapCoGroupsInPandas is on the (small) frontier
    side, and an active-blocks Filter must not reintroduce one."""
    import pandas as pd

    from osm2geojson_spark.spatial.route import grid_block_part, grid_edges

    part = grid_block_part(24, 6)
    e = (grid_edges(spark, 24)
         .withColumn("p", part("src"))
         .withColumn("x", part("dst") != F.col("p"))
         .repartition(F.col("p")).sortWithinPartitions("p").persist())
    e.count()
    fr = (spark.createDataFrame([(0, 0)], "id long, dist long")
          .withColumn("p", part("id")))

    def k(_key, a, b):
        return pd.DataFrame({"id": [0], "nd": [0]})

    cand = (fr.groupBy("p")
            .cogroup(e.where(F.col("p").isin([0, 1, 2])).groupBy("p"))
            .applyInPandas(k, "id long, nd long"))
    plan = plan_of(cand)
    assert "FlatMapCoGroupsInPandas" in plan
    # live operators stop at the InMemoryRelation boundary — everything
    # after it is the cached build plan (its one-time REPARTITION_BY_COL
    # shuffle), not per-round work
    live = plan.split("InMemoryRelation")[0]
    assert live.count("Exchange hashpartitioning") == 1, plan  # frontier
    # the edge side reads the cache through a Filter with no new Sort
    edge_side = live.split("InMemoryTableScan")[0].split("+- Filter")[-1]
    assert "Exchange" not in edge_side and "Sort" not in edge_side, plan
    e.unpersist()


def test_pagerank_dangling_is_broadcast_not_collect(spark):
    """The dangling-mass fold: one-row aggregate rides a
    BroadcastNestedLoopJoin into the mass update — no driver collect,
    a single job per iteration."""
    from osm2geojson_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "src long, dst long")
    # plan shape of one iteration: build with n_iters=1 and inspect the
    # final mass lineage BEFORE checkpoint by replaying the expression
    from pyspark.sql import functions as SF

    mass = spark.createDataFrame(
        [(0, 2, 100), (1, 1, 100), (2, 1, 100), (3, 0, 100)],
        "id long, deg long, mass long")
    dangling = mass.where(SF.col("deg") == 0).agg(
        SF.coalesce(SF.sum("mass"), SF.lit(0)).alias("dang"))
    out = mass.crossJoin(SF.broadcast(dangling)).select(
        "id", SF.expr("mass + (dang div 4)").alias("m"))
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" in plan
    got = {r.id: r.m for r in out.collect()}
    assert got == {0: 125, 1: 125, 2: 125, 3: 125}


def test_ways_input_single_exchange_for_ordered_collect(spark):
    """way_assembly's re-base: repartition(group key) + groupBy must
    collapse to ONE exchange (collect_list has no partial reduction, so
    the pre-repartition is free) while restoring full-width sort."""
    from osm2geojson_spark.queries import _ways_input

    _nodes, ways = _ways_input(spark, SF)
    plan = plan_of(ways)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_chunk_windows_has_no_exchange(spark):
    # the packing step is a pure map-side generator: tokens -> sequence
    # -> posexplode -> slice, no shuffle anywhere
    from osm2geojson_spark.operators.corpus import chunk_windows

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(chunk_windows(d, window=32, stride=16))
    assert "Exchange" not in p
    assert "Generate" in p  # the posexplode generator


def test_url_dedup_single_exchange_zero_udf(spark):
    # canonicalize is a codegen expression chain; the only shuffle is
    # the final groupBy on the canonical key (with map-side partial agg)
    from osm2geojson_spark.functions.urls import url_dedup
    from osm2geojson_spark.queries import _url_synth_expr

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.expr(_url_synth_expr("STRING")).alias("url"))
    df = url_dedup(d)
    p = plan_of(df)
    assert p.count("Exchange") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "partial_min" in p or "HashAggregate" in p  # map-side combine


def test_union_area_strip_join_then_windows(spark):
    # coverage join must be a sort-merge/hash join on the group key,
    # not a cartesian; no Python anywhere
    from osm2geojson_spark.spatial.dissolve import union_area

    p = spark.read.parquet(f"{SF}/part.parquet")
    boxes = p.select(
        (F.col("p_partkey") % 12).alias("group_id"),
        ((F.col("p_partkey") * 37) % 500).alias("x1"),
        ((F.col("p_partkey") * 29) % 500).alias("y1"),
        ((F.col("p_partkey") * 37) % 500 + 1 + (F.col("p_partkey") * 13) % 60).alias("x2"),
        ((F.col("p_partkey") * 29) % 500 + 1 + (F.col("p_partkey") * 17) % 60).alias("y2"))
    plan = plan_of(union_area(boxes))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_no_joins_single_corpus_agg(spark):
    """Fifth wave: ratio-BM25 is ONE corpus token pass — no SortMergeJoin
    anywhere, the only non-broadcast exchange is the per-doc aggregation
    boundary (plus the repartition hint on the tiny test file), stats
    attach by broadcast, and the top-k is TakeOrderedAndProject (per-
    partition top-k, no global sort)."""
    from osm2geojson_spark.session import owned

    with owned(spark):   # the per-doc persist is released after
        plan = plan_of(Q.q_bm25_topk(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only hash exchange is the per-doc agg boundary; it prints once
    # per InMemoryRelation branch (main + broadcast stats), so dedup by
    # partition key rather than counting occurrences
    import re

    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"doc_id"}, keys


def test_collocations_broadcasts_unigram_tables(spark):
    """Pair counts join vocabulary-sized unigram tables by broadcast —
    no shuffle join of the bigram stream."""
    df = Q.q_collocations(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_str_pack_no_global_sort(spark):
    """The distributed rank never single-tasks: no Sort over the full
    point set without a partition key upstream of a window (the two
    windows are bucket-/slice-partitioned), offsets broadcast."""
    from osm2geojson_spark.spatial.strpack import str_leaves, str_pack

    p = spark.read.parquet(f"{SF}/part.parquet")
    pts = p.select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") * F.lit(2654435761)) % F.lit(360_000_000))
        .alias("x"),
        ((F.col("p_partkey") * F.lit(2246822519) + F.lit(1013904223))
         % F.lit(170_000_000)).alias("y"))
    df = str_leaves(str_pack(pts, pts.count(), leaf_capacity=32,
                             x_bucket=F.expr("x div 36000000")))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan          # offsets attach broadcast
    # every Window sorts WITHIN a partitioning, never globally: each
    # window's sort spec carries its partition column first
    for ln in plan.splitlines():
        if ln.strip().startswith("Window "):
            assert "_b" in ln or "_slice" in ln, ln


def test_densify_adds_no_exchange_after_collect(spark):
    """densify_paths is map-side array algebra: zero exchanges beyond
    the one geometry-collection aggregation."""
    from osm2geojson_spark.spatial.hausdorff import collect_geoms
    from osm2geojson_spark.spatial.simplify import densify_paths

    rows = spark.createDataFrame(
        [(0, 0, 0, 0), (0, 1, 10, 4), (1, 0, 5, 5)],
        "obj_id long, seq long, x long, y long")
    df = densify_paths(collect_geoms(rows), 4)
    assert plan_of(df).count("Exchange") <= 1

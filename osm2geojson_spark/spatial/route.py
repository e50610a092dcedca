"""Distributed routing over a road network: single-source shortest
paths, deterministic predecessor extraction, and log-round route
reconstruction.

The reference engine has no routing, but its road data model (ways =
ordered node chains, ``OsmJoin.java`` way assembly) is exactly the edge
substrate a router consumes; this module is the graph-analytics layer a
user of the assembled network would run next, built with the same
machinery as the repo's other iterative operators
(``operators/dedup.dup_clusters``): one equi-join + partial-aggregate
per round, ``localCheckpoint`` plan truncation so round N's analysis
cost stays O(1), and the driver seeing ONE count per round — never row
data.

Every entry point (and ``spatial/dt.py``) runs the same label-correcting
relax through one set of private helpers:

* ``_edges`` — the edge prologue: ``(e_src, e_dst, w)`` cast to long,
  partitioned and sorted once (on ``e_src``, or on the block id ``p``
  plus the block-crossing flag ``x`` for Δ-stepping), persisted,
  negative weights rejected.
* ``_candidates`` / ``_merge`` — one relaxation step and the min-merge,
  keyed on ``("id",)`` (single source) or ``("src", "id")`` (matrix).
* ``_frontier_relax`` — the frontier Bellman-Ford loop; cold runs and
  reseeded updates differ only in their seed and key.
* ``_delta_rounds`` — the Δ-stepping round loop over ``(src, id,
  dist)`` with one block kernel pair (``_block_kernel``); the matrix
  entry's full-relax branch runs before it.
* ``_np_relax`` — the numpy worklist under every Python kernel.

Scale notes (100 TB / planet-graph):

* ``shortest_paths`` is frontier Bellman-Ford (label-correcting): each
  round joins the CURRENT FRONTIER (nodes whose distance improved last
  round) against the edge table and min-combines candidate distances
  map-side before the one shuffle on ``dst``. Work per round is
  O(frontier ⋈ edges), not O(V ⋈ E); rounds = max hop count of any
  optimal path (≤ graph diameter), so a planet road graph (~diameter
  5k hops) needs a hop-bounded variant or contraction — ``max_iters``
  makes that contract explicit and non-convergence raises loudly
  instead of returning silently-partial distances.
* Distances are exact INTEGER arithmetic (weights cast to long): the
  output is engine-independent and value-hashable — no float summation
  order anywhere.
* ``reconstruct_route`` never walks the path one hop at a time on the
  driver: it pointer-doubles. Round k squares the jump table
  (2^k-step ancestor for EVERY node, one self-join) and doubles the
  known prefix of the target's chain, so a length-L path materializes
  in O(log L) rounds of bounded joins — the list-ranking recipe, not a
  driver loop over rows.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist

__all__ = [
    "grid_edges",
    "grid_block_part",
    "shortest_paths",
    "shortest_paths_delta",
    "sssp_update",
    "matrix_update",
    "travel_time_matrix",
    "travel_time_matrix_delta",
    "catchment_assign",
    "route_predecessors",
    "reconstruct_route",
    "isochrone_bands",
    "landmark_dist_table",
    "astar_route",
]

# deterministic synthetic road-network weight mix (shared bit-for-bit
# with pyref.grid_graph so the DuckDB literal-table oracle and every
# pytest twin see the identical graph)
_WA = 73856093
_WB = 19349663
_WMOD = 9


def grid_edges(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic n×n grid road network: node id = iy*n + ix,
    4-neighbor directed edges both ways, integer weight
    ``1 + (src*_WA + dst*_WB) % 9`` (asymmetric — a→b and b→a differ,
    so directedness is actually exercised). Pure codegen column math;
    the identical graph is produced Spark-free by ``pyref.grid_graph``.
    """
    nodes = spark.range(n * n).select(
        F.col("id").cast("long").alias("src"),
        (F.col("id") % n).alias("ix"),
        (F.col("id") / n).cast("long").alias("iy"),
    )
    offs = F.array(
        F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(-1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(-1).alias("dy")),
    )
    e = (
        nodes.select("src", "ix", "iy", F.explode(offs).alias("o"))
        .select(
            "src",
            (F.col("ix") + F.col("o.dx")).alias("jx"),
            (F.col("iy") + F.col("o.dy")).alias("jy"),
        )
        .where(
            (F.col("jx") >= 0) & (F.col("jx") < n)
            & (F.col("jy") >= 0) & (F.col("jy") < n)
        )
        .select("src", (F.col("jy") * n + F.col("jx")).cast("long").alias("dst"))
    )
    return e.select(
        "src",
        "dst",
        (
            F.lit(1)
            + (F.col("src") * F.lit(_WA) + F.col("dst") * F.lit(_WB)) % F.lit(_WMOD)
        ).cast("long").alias("w"),
    )


def _cast_edges(edges: DataFrame) -> DataFrame:
    """``(src, dst, w)`` → ``(e_src, e_dst, w)`` as long."""
    return edges.select(
        F.col("src").cast("long").alias("e_src"),
        F.col("dst").cast("long").alias("e_dst"),
        F.col("w").cast("long").alias("w"),
    )


def _edges(edges: DataFrame, name: str, part=None) -> DataFrame:
    """The edge prologue of every routing entry point: ``(e_src, e_dst,
    w)`` as long, hash-partitioned AND sorted on the join key ONCE, then
    persisted. The cached InMemoryRelation keeps its
    outputPartitioning/ordering, so every round's join reuses it instead
    of re-exchanging and re-sorting the (big) edge side per round (−26%
    wall-clock on the 16M-edge expander bench, BENCH.md). With a block
    partitioner ``part`` the key is the block id ``p = part(e_src)`` and
    ``x`` flags block-crossing edges. Negative weights are rejected
    (named for ``name``): the label-correcting contract — settled
    distances never regress past convergence — doesn't hold for them."""
    e = _cast_edges(edges)
    key = "e_src"
    if part is not None:
        e = (e.withColumn("p", part("e_src"))
             .withColumn("x", part("e_dst") != F.col("p")))
        key = "p"
    e = persist(e.repartition(F.col(key)).sortWithinPartitions(key))
    if e.where(F.col("w") < 0).limit(1).count() > 0:
        e.unpersist()
        raise ValueError(f"{name} requires non-negative weights")
    return e


def _seed(spark: SparkSession, sources, key) -> DataFrame:
    """Zero labels ``(*key, dist)`` for ``sources``, checkpointed."""
    cols = (*key, "dist")
    return spark.createDataFrame(
        [(int(s), int(s), 0)[-len(cols):] for s in sources],
        ", ".join(f"{c} long" for c in cols),
    ).localCheckpoint(eager=True)


def _candidates(frontier: DataFrame, e: DataFrame, key) -> DataFrame:
    """One relaxation step: every frontier label ``(*key, dist)`` pushed
    along its out-edges as ``(*key, nd)``; min() partial-aggregates
    map-side, so the one shuffle carries per-target minima."""
    return (
        frontier.join(e, frontier.id == e.e_src)
        .groupBy(*key[:-1], F.col("e_dst").alias("id"))
        .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
    )


def _merge(dist: DataFrame, cand: DataFrame, key) -> DataFrame:
    """The label-correcting min-merge: full-join the labels ``(*key,
    dist)`` with candidates ``(*key, nd)``, keep the smaller, and flag
    ``_imp`` where a candidate improved or newly reached a key. Eagerly
    checkpointed, so the next round plans against O(1) lineage."""
    return (
        dist.join(cand, list(key), "full")
        .select(
            *key,
            F.least(F.coalesce("dist", "nd"), F.coalesce("nd", "dist"))
            .alias("dist"),
            (F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .alias("_imp"),
        )
        .localCheckpoint(eager=True)
    )


def _frontier_relax(e, dist, key, max_iters, name, *, reseed=None,
                    stats=None, hint=""):
    """The frontier Bellman-Ford loop behind every cold run and every
    incremental update: each round relaxes only the labels that
    improved last round. Cold start: the frontier is ``dist`` itself
    (the seeds). Reseed: ``reseed`` candidates ``(*key, nd)`` are merged
    into a converged ``dist`` first and the improved keys form the
    frontier — label-correcting is restartable from any over-estimate.
    ``e`` comes from :func:`_edges` (without a partitioner) and is
    released here. Returns ``(*key, dist)``, a projection that reads
    only the loop's final checkpoint; raises "``name`` did not converge
    in N rounds; raise max_iters``hint``" if still improving."""
    cols = (*key, "dist")
    frontier = dist
    if reseed is not None:
        merged = _merge(dist, reseed, key)
        dist, frontier = merged.select(*cols), merged.where("_imp").select(*cols)
    changed, rounds = 1, 0
    while changed and rounds < max_iters:
        rounds += 1
        merged = _merge(dist, _candidates(frontier, e, key), key)
        dist, frontier = merged.select(*cols), merged.where("_imp").select(*cols)
        changed = frontier.count()
    e.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    if changed:
        raise RuntimeError(
            f"{name} did not converge in {max_iters} rounds "
            f"({changed} still improving); raise max_iters{hint}")
    return dist


def shortest_paths(
    edges: DataFrame,
    source: int,
    max_iters: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Single-source shortest paths → ``(node_id, dist)`` for every
    reachable node (unreachable nodes are absent, not null — quarantine
    discipline applies upstream if the caller needs them listed).

    Frontier Bellman-Ford: after round k every node whose optimal path
    uses ≤ k hops holds its final distance, so the loop converges in
    (max optimal hop count + 1) rounds and each round touches only the
    frontier. Weights must be non-negative integers (cast to long);
    negative weights are rejected because the frontier contract
    (settled distances never regress past convergence) doesn't hold.
    """
    e = _edges(edges, "shortest_paths")
    dist = _frontier_relax(
        e, _seed(edges.sparkSession, [source], ("id",)), ("id",),
        max_iters, "shortest_paths", stats=stats,
        hint=" (rounds needed = max hop count of an optimal path)")
    return dist.select(F.col("id").alias("node_id"), "dist")


def sssp_update(
    edges: DataFrame,
    dist: DataFrame,
    improving_edges: DataFrame,
    max_iters: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental SSSP maintenance: given a converged ``dist``
    (``(node_id, dist)``) for ``edges`` MINUS a batch of IMPROVING edge
    changes (weight decreases or brand-new edges, already merged into
    ``edges``), propagate only from the changed edges instead of
    recomputing from the source — the label-correcting loop is
    restartable from any over-estimate, so seeding the frontier with
    the changed edges' relaxations converges to the exact new fixpoint.

    Weight INCREASES are out of contract (label-correcting cannot
    revoke a distance); the streaming wrapper detects them and falls
    back to a cold :func:`shortest_paths` run for that batch.
    """
    e = _edges(edges, "sssp_update")
    d0 = dist.select(F.col("node_id").alias("id"),
                     F.col("dist").cast("long").alias("dist"))
    new_dist = _frontier_relax(
        e, d0, ("id",), max_iters, "sssp_update", stats=stats,
        reseed=_candidates(d0, _cast_edges(improving_edges), ("id",)))
    return new_dist.select(F.col("id").alias("node_id"), "dist")


def grid_block_part(n: int, block: int):
    """Spatial partitioner for :func:`grid_edges` node ids: ``block`` ×
    ``block`` cell tiles, part id = (iy//block)·gx + (ix//block). Blocks
    are the unit of per-barrier fusion in :func:`shortest_paths_delta` —
    a wavefront crosses a whole block per round instead of one edge.

    Integer ``div`` throughout (partitioners take a column NAME so the
    expression can stay in int64) — double division + truncating cast
    can disagree with exact floor near 2^53, the trap documented in
    ``isochrone_bands``/``operators/graph.py``."""
    n, block = int(n), int(block)
    gx = (n + block - 1) // block

    def part(name: str):
        return F.expr(
            f"((`{name}` div {n}) div {block}) * {gx} "
            f"+ ((`{name}` % {n}) div {block})"
        )

    return part


def _hash_part(n_parts: int):
    """Default block partitioner: hash-mod ``n_parts`` (correct for any
    graph; round reduction needs a locality-aware one)."""
    def part(name: str):
        return F.pmod(F.col(name), F.lit(int(n_parts))).cast("long")

    return part


def _build_csr(e_src, e_dst, e_w, *extra_ids):
    """CSR over dense node indices (edge endpoints plus ``extra_ids``):
    (node_ids_sorted, starts, ends, dst_idx, w)."""
    import numpy as np

    node_ids = np.unique(np.concatenate([e_src, e_dst, *extra_ids]))
    n = int(node_ids.size)
    ls = np.searchsorted(node_ids, e_src)
    ld = np.searchsorted(node_ids, e_dst)
    order = np.argsort(ls, kind="stable")
    ls, ld, lw = ls[order], ld[order], e_w[order]
    bounds = np.searchsorted(ls, np.arange(n + 1))
    return node_ids, bounds[:-1], bounds[1:], ld, lw


def _np_relax(fr_src, fr_id, fr_dist, csr, cap=None):
    """The numpy worklist under every Python kernel: Bellman-Ford over
    dense ``(n_sources × n_nodes)`` int64 labels keyed ``s*n + u``, so
    all sources relax in the SAME vector ops. Per iteration, expand
    every active pair's CSR edge range by ragged ``np.repeat`` indexing
    and scatter-min with ``np.minimum.at``; pairs that improved stay
    active (with ``cap``: only those below it). Returns ``(srcs, seed,
    dist)`` — the sorted sources and the flat labels before and at the
    fixpoint (int64 max = unreached)."""
    import numpy as np

    node_ids, starts, ends, ld, lw = csr
    n = int(node_ids.size)
    inf = np.iinfo(np.int64).max
    srcs = np.unique(fr_src)
    dist = np.full(int(srcs.size) * n, inf, np.int64)
    fkey = (np.searchsorted(srcs, fr_src) * n
            + np.searchsorted(node_ids, fr_id))
    np.minimum.at(dist, fkey, fr_dist)
    seed = dist.copy()
    act = np.unique(fkey)
    while act.size:
        if cap is not None:
            act = act[dist[act] < cap]
        uu = act % n
        cnt = ends[uu] - starts[uu]
        keep = cnt > 0
        act_k, uu, cnt = act[keep], uu[keep], cnt[keep]
        tot = int(cnt.sum())
        if tot == 0:
            break
        rep = np.repeat(act_k, cnt)
        off = (np.repeat(starts[uu], cnt)
               + np.arange(tot) - np.repeat(np.cumsum(cnt) - cnt, cnt))
        nd = dist[rep] + lw[off]
        tgt = (rep // n) * n + ld[off]
        ut, inv = np.unique(tgt, return_inverse=True)
        cu = np.full(ut.size, inf, np.int64)
        np.minimum.at(cu, inv, nd)
        impm = cu < dist[ut]
        act = ut[impm]
        dist[act] = cu[impm]
    return srcs, seed, dist


def _np_block_relax(fr_src, fr_id, fr_dist, e_src, e_dst, e_w, e_cross,
                    cap):
    """Vectorized exact per-block relaxation — the Δ-stepping
    per-barrier kernel of :func:`_delta_rounds`.

    Replaces the round-4 scalar heap Dijkstra (the bottleneck named by
    BENCH.md's 16-source cost-matrix table once rounds were collapsed):
    :func:`_np_relax` over the block's LOCAL edges. Within a block both
    algorithms reach the same unique fixpoint from the same seeds, so
    the emitted candidate set is IDENTICAL to the heap kernel's
    min-merged output: cross-block candidates at settled distances
    (< cap when capped) plus local nodes improved past their seed.
    Iterations = local hop diameter of the improved region, each a few
    fused array ops — the per-barrier compute the scalar heap
    serialized. Returns ``(src, id, nd)`` int64 arrays, min-merged per
    key.
    """
    import numpy as np

    inf = np.iinfo(np.int64).max
    lmask = ~e_cross
    csr = _build_csr(e_src[lmask], e_dst[lmask], e_w[lmask], e_src, fr_id)
    local_ids = csr[0]
    n = int(local_ids.size)
    srcs, seeds, dist = _np_relax(fr_src, fr_id, fr_dist, csr, cap)
    li = np.nonzero(dist < seeds)[0]
    out_s = [srcs[li // n]]
    out_i = [local_ids[li % n]]
    out_d = [dist[li]]
    if e_cross.any():
        cs = np.searchsorted(local_ids, e_src[e_cross])
        cd = e_dst[e_cross]
        cw = e_w[e_cross]
        hi = inf if cap is None else cap
        for j in range(int(srcs.size)):
            d = dist[j * n + cs]
            m = d < hi
            if m.any():
                out_s.append(np.full(int(m.sum()), srcs[j], np.int64))
                out_i.append(cd[m])
                out_d.append(d[m] + cw[m])
    os_ = np.concatenate(out_s)
    oi = np.concatenate(out_i)
    od = np.concatenate(out_d)
    if os_.size == 0:
        return os_, oi, od
    # local min-merge per (src, id): lexsort puts the min dist first in
    # each group, the boundary mask keeps exactly that row
    o = np.lexsort((od, oi, os_))
    os_, oi, od = os_[o], oi[o], od[o]
    first = np.ones(os_.size, bool)
    first[1:] = (os_[1:] != os_[:-1]) | (oi[1:] != oi[:-1])
    return os_[first], oi[first], od[first]


# Per-PROCESS cache of broadcast edge payloads: PySpark's Broadcast.value
# caches on the handle INSTANCE, and every task deserializes a fresh
# handle — so without this, each task re-reads and re-unpickles the
# whole edge payload (measured: +2.3 s/round on the 16-source probe,
# 285 s vs 197 s — slower than the cogroup it replaced). The kernel
# resolves this dict THROUGH THE MODULE (importable on workers both in
# local mode and under --py-files), so all tasks of a worker process
# share one load. Keyed by broadcast id; wiped on each new id so at
# most one edge set is ever held per process.
_BLK_CACHE: dict = {}
_BLK_TOKEN = [0]  # driver-side monotone token (worker Broadcast handles
                  # expose no stable id, so the token rides the closure)


def _blk_cache_get(bc, token):
    blocks = _BLK_CACHE.get(token)
    if blocks is None:
        _BLK_CACHE.clear()
        blocks = bc.value
        _BLK_CACHE[token] = blocks
    return blocks


def _edge_broadcast(e, cap: int, payload):
    """Guarded driver materialization of the edge table — the
    ``spatial/pip.py`` broadcast-contract pattern applied to routing:
    when the edge table fits the cap, ship ``payload(pandas edges)`` to
    every Python worker ONCE instead of re-cogrouping ~|E| rows through
    Arrow on EVERY barrier. The instrumented 16-source cost-matrix probe
    showed 87% of wall inside the per-round materialization job,
    dominated by that edge transfer (39 rounds × 2M edge rows); with
    the broadcast, each round ships only the frontier. Returns
    ``(broadcast, token)`` and releases ``e`` (the broadcast replaces
    the cached relation), or ``None`` when over cap: callers keep the
    cogroup path (the 100 TB shape, where edges exceed any single
    worker)."""
    if e.count() > cap:
        return None
    pdf = e.toPandas()  # guarded: |E| <= cap by contract (pip discipline)
    bc = e.sparkSession.sparkContext.broadcast(payload(pdf))
    e.unpersist()
    _BLK_TOKEN[0] += 1
    return bc, _BLK_TOKEN[0]


def _edge_blocks(pdf) -> dict:
    """Per-block ``(e_src, e_dst, w, x)`` numpy arrays keyed by block id."""
    import numpy as np

    pdf = pdf.sort_values("p", kind="stable")
    ps = pdf["p"].to_numpy(np.int64)
    arrs = (pdf["e_src"].to_numpy(np.int64),
            pdf["e_dst"].to_numpy(np.int64),
            pdf["w"].to_numpy(np.int64),
            pdf["x"].to_numpy(bool))
    cuts = np.nonzero(ps[1:] != ps[:-1])[0] + 1
    starts = np.concatenate([[0], cuts])
    ends = np.concatenate([cuts, [ps.size]])
    return {
        int(ps[s]): tuple(a[s:t].copy() for a in arrs)
        for s, t in zip(starts, ends)
    }


def _edge_csr(pdf):
    """One driver-side whole-graph CSR shared by every full-relax task —
    kernels skip the per-call unique/argsort entirely."""
    import numpy as np

    return _build_csr(*(pdf[c].to_numpy(np.int64)
                        for c in ("e_src", "e_dst", "w")))


BROADCAST_EDGE_CAP = 8_000_000


def _block_kernel(cap, bct):
    """The Δ-stepping per-barrier kernel over one block's frontier
    ``(src, id, dist)`` → candidates ``(src, id, nd)``: the cogroup form
    ``(key, frontier, edges)`` when ``bct`` is None, else the broadcast
    form ``(key, frontier)`` reading the block's edges from the
    per-process cache."""
    import numpy as np
    import pandas as pd

    def relax(fr, blk):
        if blk is None or len(fr) == 0:
            return pd.DataFrame({c: pd.Series(dtype="int64")
                                 for c in ("src", "id", "nd")})
        os_, oi, od = _np_block_relax(
            *(fr[c].to_numpy(np.int64) for c in ("src", "id", "dist")),
            *blk, cap)
        return pd.DataFrame({"src": os_, "id": oi, "nd": od})

    if bct is None:
        def kernel(_key, fr, eg):
            return relax(fr, None if len(eg) == 0 else (
                eg["e_src"].to_numpy(np.int64),
                eg["e_dst"].to_numpy(np.int64),
                eg["w"].to_numpy(np.int64),
                eg["x"].to_numpy(bool)))
    else:
        bc, tok = bct

        def kernel(key, fr):
            return relax(fr, _blk_cache_get(bc, tok).get(int(key[0])))

    return kernel


def _delta_rounds(e, bct, dist, part, delta, max_rounds, name, hint=""):
    """The Δ-stepping round loop shared by :func:`shortest_paths_delta`
    and :func:`travel_time_matrix_delta`: labels ``(src, id, dist)``,
    one block kernel call per active block per barrier, candidates
    min-merged on ``(src, id)``. ``e`` comes from :func:`_edges` with
    ``part``; ``bct`` is its broadcast (or None: cogroup the active
    blocks' edges each round). ``delta`` caps each round's expansion at
    (min frontier dist) + delta; the rest stays pending. AQE is off for
    the loop (restored after). Releases ``e`` and the broadcast.
    Returns ``(dist, info)`` with ``rounds``, ``buckets``, ``t_agg`` and
    ``t_ckpt``; raises "``name`` did not converge in N rounds; raise
    max_rounds``hint``"."""
    spark = dist.sparkSession
    frontier = dist.withColumn("p", part("id"))
    rounds = buckets = 0
    t_agg = t_ckpt = 0.0
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        while True:
            # ONE scalar job per round: frontier size, bucket floor, and
            # the set of active blocks (bounded by the number of blocks —
            # block ids, never row data)
            t0 = time.perf_counter()
            agg = frontier.agg(
                F.count("*").alias("c"), F.min("dist").alias("lo"),
                F.collect_set("p").alias("ps"),
            ).collect()[0]
            t_agg += time.perf_counter() - t0
            if agg["c"] == 0:
                break
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    f"{name} did not converge in {max_rounds} rounds; "
                    f"raise max_rounds{hint}")
            if delta is not None:
                cap = int(agg["lo"]) + int(delta)
                active = frontier.where(F.col("dist") < cap)
                pending = frontier.where(F.col("dist") >= cap)
                buckets += 1
            else:
                cap, active, pending = None, frontier, None
            if bct is not None:
                cand = active.groupBy("p").applyInPandas(
                    _block_kernel(cap, bct), "src long, id long, nd long")
            else:
                # only ACTIVE blocks' edges enter the cogroup: a Filter
                # over the cached relation keeps its hash partitioning
                # (no new exchange), and quiet blocks stop paying Arrow
                # transfer every round. With very many blocks the
                # In-list would bloat the plan — ship all edges instead
                # (the kernel returns instantly on an empty frontier).
                parts = agg["ps"]
                e_act = (e.where(F.col("p").isin([int(x) for x in parts]))
                         if len(parts) <= 2048 else e)
                cand = (active.groupBy("p").cogroup(e_act.groupBy("p"))
                        .applyInPandas(_block_kernel(cap, None),
                                       "src long, id long, nd long"))
            cand = cand.groupBy("src", "id").agg(F.min("nd").alias("nd"))
            t0 = time.perf_counter()
            merged = _merge(dist, cand, ("src", "id"))
            t_ckpt += time.perf_counter() - t0
            improved = merged.where("_imp").select("src", "id", "dist")
            dist = merged.select("src", "id", "dist")
            # frontier stays a cheap filter over the checkpointed merge
            # (no second materialization job per round); only the delta
            # path's pending anti-join warrants its own checkpoint
            frontier = improved.withColumn("p", part("id"))
            if pending is not None:
                frontier = frontier.unionByName(
                    pending.join(improved, ["src", "id"], "left_anti")
                ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        e.unpersist()
        if bct is not None:
            bct[0].unpersist()
    return dist, {"rounds": rounds, "buckets": buckets,
                  "t_agg": t_agg, "t_ckpt": t_ckpt}


def shortest_paths_delta(
    edges: DataFrame,
    source: int,
    *,
    part=None,
    n_parts: int = 64,
    delta: int | None = None,
    max_rounds: int = 512,
    stats: dict | None = None,
    broadcast_cap: int = BROADCAST_EDGE_CAP,
) -> DataFrame:
    """Single-source shortest paths → ``(node_id, dist)`` — same
    contract and (converged, therefore unique) output as
    :func:`shortest_paths`, but each global barrier relaxes a whole
    DISTANCE BUCKET per graph block instead of one hop: Δ-stepping
    [Meyer & Sanders 2003] re-expressed for a BSP engine.

    Why: frontier Bellman-Ford is round-barrier-bound on road networks —
    rounds = max hop count of an optimal path (≈ graph diameter), and a
    planet road graph's diameter is thousands of hops, so wall-clock is
    flat in core count (BENCH.md routing evidence). Here every round
    cogroups the frontier with the PRE-PARTITIONED edge table by
    ``part(node)`` and relaxes *within each block* to the exact local
    fixpoint (:func:`_np_block_relax` — numpy worklist relaxation, no
    scalar Python), so distances propagate a whole block per
    barrier; only block-crossing relaxations travel through the shuffle.
    Rounds collapse from O(diameter in hops) to O(diameter in blocks) —
    measured 1300× fewer rounds on a 1M-node grid
    (``bench.py --sweep grid_route``). It runs as a one-source matrix
    through :func:`_delta_rounds`.

    Correctness does not depend on the partitioner or ``delta``: block
    Dijkstra may start from not-yet-final seed distances, but every
    emitted candidate is ≥ the true distance and the global merge keeps
    the min, so tentative distances decrease monotonically to the unique
    fixpoint — label-correcting, exactly like the frontier version
    (which remains the oracle twin; both are value-exact against the
    pyref heap-Dijkstra literal table).

    ``part``: callable mapping a node-id column NAME → block-id Column
    (:func:`grid_block_part` for grids; default hash-mod ``n_parts`` —
    correct for any graph, but round reduction needs a locality-aware
    partitioner, exactly like real deployments partition road networks
    by region). ``delta``: optional bucket width — each round expands
    only frontier nodes with dist < (min frontier dist) + delta, the
    classic Δ-stepping guard against propagating stale long distances;
    ``None`` = one unbounded bucket (max fusion, best for near-monotone
    graphs like road grids).
    """
    if delta is not None and int(delta) < 1:
        raise ValueError("delta must be a positive bucket width (or None)")
    if part is None:
        part = _hash_part(n_parts)
    e = _edges(edges, "shortest_paths_delta", part)
    bct = _edge_broadcast(e, broadcast_cap, _edge_blocks)
    dist, info = _delta_rounds(
        e, bct, _seed(edges.sparkSession, [source], ("src", "id")), part,
        delta, max_rounds, "shortest_paths_delta",
        " (rounds ≈ graph diameter in blocks × buckets)")
    if stats is not None:
        stats["rounds"] = info["rounds"]
        stats["buckets"] = info["buckets"]
        stats["edge_broadcast"] = bct is not None
    return dist.select(F.col("id").alias("node_id"), "dist")


def route_predecessors(edges: DataFrame, dist: DataFrame) -> DataFrame:
    """Deterministic shortest-path tree from a converged ``dist``
    table: ``pred[v] = MIN(u) over edges u→v with dist[u] + w == dist[v]``.

    Computed POST-HOC from distances (one join + one min-aggregate), so
    the tie rule is a property of the OUTPUT, independent of which
    algorithm produced ``dist`` — a heap Dijkstra and the frontier
    Bellman-Ford above yield byte-identical trees, which is what makes
    the route oracle value-exact. The source node is absent (no pred).
    """
    du = dist.select(F.col("node_id").alias("u"), F.col("dist").alias("du"))
    dv = dist.select(F.col("node_id").alias("v"), F.col("dist").alias("dv"))
    return (
        edges.join(du, edges.src == du.u)
        .join(dv, edges.dst == dv.v)
        .where(F.col("du") + F.col("w") == F.col("dv"))
        .groupBy(F.col("v").alias("node_id"))
        .agg(F.min("u").alias("pred"))
    )


def reconstruct_route(
    pred: DataFrame,
    source: int,
    target: int,
    max_pow: int = 20,
) -> DataFrame:
    """Materialize the node sequence target→source as ``(pos, node_id)``
    rows (pos 0 = target) by pointer doubling, O(log L) rounds.

    Round k holds J = the 2^k-step ancestor of every node (source
    self-loops, saturating) and P = the first 2^k chain positions;
    P ∪ shift(P) ⋈ J doubles the known prefix while J ⋈ J squares the
    jump. The driver checks one scalar per round (has the chain reached
    the source yet) and finally trims the saturated tail.
    """
    spark = pred.sparkSession
    src_row = spark.createDataFrame(
        [(int(source), int(source))], "node_id long, pred long"
    )
    j = (
        pred.select(F.col("node_id").cast("long"), F.col("pred").cast("long"))
        .unionByName(src_row)
        .localCheckpoint(eager=True)
    )
    p = spark.createDataFrame(
        [(0, int(target))], "pos long, node_id long"
    ).localCheckpoint(eager=True)
    step = 1
    reached = p.where(F.col("node_id") == source).limit(1).count()
    for _ in range(max_pow):
        if reached:
            break
        ext = (
            p.join(j, "node_id")
            .select((F.col("pos") + F.lit(step)).alias("pos"),
                    F.col("pred").alias("node_id"))
        )
        p = p.unionByName(ext).localCheckpoint(eager=True)
        j2 = j.select(F.col("node_id").alias("n2"), F.col("pred").alias("p2"))
        j = (
            j.join(j2, j.pred == j2.n2)
            .select("node_id", F.col("p2").alias("pred"))
            .localCheckpoint(eager=True)
        )
        step *= 2
        # check AFTER extending, so the extension performed in the final
        # round counts — the effective limit is the advertised 2^max_pow
        # path positions, not 2^(max_pow-1)
        reached = p.where(F.col("node_id") == source).limit(1).count()
    if not reached:
        raise RuntimeError(
            f"reconstruct_route: chain from {target} did not reach "
            f"{source} within 2^{max_pow} hops (unreachable target, or "
            f"raise max_pow)"
        )
    first_src = (
        p.where(F.col("node_id") == source)
        .agg(F.min("pos").alias("m"))
        .collect()[0]["m"]
    )
    return p.where(F.col("pos") <= first_src).select("pos", "node_id")


def travel_time_matrix_delta(
    edges: DataFrame,
    sources: list[int],
    *,
    part=None,
    n_parts: int = 64,
    max_rounds: int = 512,
    stats: dict | None = None,
    broadcast_cap: int = BROADCAST_EDGE_CAP,
    src_groups: int = 16,
) -> DataFrame:
    """Batched multi-source SSSP → ``(src, node_id, dist)`` with the
    same converged output as :func:`travel_time_matrix`.

    Full relax (whenever the edge broadcast fits ``broadcast_cap``):
    the matrix workload under the cap is EMBARRASSINGLY PARALLEL over
    sources — every task holds the whole graph, so restricting
    relaxation to one block per barrier would only multiply barriers.
    Sources split into ``src_groups`` groups by enumeration order, and
    each group's task runs its sources to the FULL vectorized fixpoint
    in ONE kernel call (:func:`_np_relax` over a driver-built CSR):
    rounds collapse from O(diameter in blocks) × correction-cascade (39
    measured on the 262k-px cost raster) to 1. This is the standard
    production split: graph fits a worker → parallelize over sources.

    Over the cap: the :func:`shortest_paths_delta` block-fusion loop
    (:func:`_delta_rounds`) in the product space, cogrouping each
    barrier's frontier with its blocks' edges — one vectorized block
    relaxation over entries keyed ``(source, node)`` relaxes every
    source in the same numpy ops, so ALL sources ride the SAME rounds
    AND the rounds collapse from O(diameter in hops) to O(diameter in
    blocks) — the 100 TB story, where edges exceed any single worker.
    Label-correcting merge keyed ``(src, id)``; correctness is
    partitioner-independent."""
    if part is None:
        part = _hash_part(n_parts)
    e = _edges(edges, "travel_time_matrix_delta", part)
    t0 = time.perf_counter()
    bct = _edge_broadcast(e, broadcast_cap, _edge_csr)
    t_bcast = time.perf_counter() - t0
    dist = _seed(edges.sparkSession, sources, ("src", "id"))
    if bct is not None:
        out = _full_relax(dist, bct, sources, src_groups)
        if stats is not None:
            stats["rounds"] = 1
            stats["edge_broadcast"] = True
            stats["full_relax"] = True
            stats["t_bcast"] = round(t_bcast, 2)
        return out.select("src", F.col("id").alias("node_id"), "dist")
    dist, info = _delta_rounds(e, None, dist, part, None, max_rounds,
                               "travel_time_matrix_delta")
    if stats is not None:
        stats["rounds"] = info["rounds"]
        stats["t_agg"] = round(info["t_agg"], 3)
        stats["t_ckpt"] = round(info["t_ckpt"], 3)
        stats["edge_broadcast"] = False
        stats["full_relax"] = False
    return dist.select("src", F.col("id").alias("node_id"), "dist")


def _full_relax(dist, bct, sources, src_groups):
    """Replicated-graph mode of :func:`travel_time_matrix_delta`: every
    task holds the whole (capped) edge set as a CSR, so each source
    group solves its sources EXACTLY in one kernel call — no
    label-correcting loop, no merge joins, ONE barrier. The output IS
    the final ``(src, id, dist)`` labels (sources' zero rows included).
    Groups are assigned by ENUMERATION order, not src mod G: structured
    depot ids share factors (the 16 grid-spread probe sources collapsed
    into 4 pmod groups — 4 fat tasks instead of 16), while i % G is
    perfectly balanced."""
    import numpy as np
    import pandas as pd

    bc, tok = bct

    def kernel(_key, fr):
        csr = _blk_cache_get(bc, tok)
        node_ids = csr[0]
        n = int(node_ids.size)
        srcs, _, d = _np_relax(
            *(fr[c].to_numpy(np.int64) for c in ("src", "id", "dist")), csr)
        fin = np.nonzero(d < np.iinfo(np.int64).max)[0]
        return pd.DataFrame({"src": srcs[fin // n], "id": node_ids[fin % n],
                             "dist": d[fin]})

    sg_map = {int(s): i % int(src_groups) for i, s in enumerate(sources)}
    sg_expr = F.create_map(*[F.lit(v) for kv in sg_map.items() for v in kv])
    # explicit range repartition: the seed frame is 16 ROWS but 16
    # CPU-HEAVY groups — AQE's coalescer sees "tiny shuffle" and folds
    # every group into ONE task (measured: 16 × 2.6 s kernels serialized
    # into a 44 s wall). An explicit numbered repartitionByRange is
    # exempt from AQE coalescing and ranges over 0..G-1 split one group
    # per partition (hash would collide).
    return (
        dist.withColumn("sg", sg_expr[F.col("src")])
        .repartitionByRange(min(int(src_groups), len(sg_map)), "sg")
        .groupBy("sg")
        .applyInPandas(kernel, "src long, id long, dist long")
    )


def matrix_update(
    edges: DataFrame,
    matrix: DataFrame,
    improving_edges: DataFrame,
    max_iters: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental maintenance of a converged travel-time matrix
    (``(src, node_id, dist)``) under a batch of IMPROVING edge changes —
    the multi-source twin of :func:`sssp_update`: every depot's
    distances reseed from the changed edges in the SAME relaxation
    rounds (one composite-keyed frontier), so a batch that improves one
    road re-settles its neighborhood once per affected depot without
    re-traversing any graph. Weight increases are out of contract
    (caller falls back to a cold :func:`travel_time_matrix` run)."""
    e = _edges(edges, "matrix_update")
    key = ("src", "id")
    d0 = matrix.select(
        F.col("src").cast("long").alias("src"),
        F.col("node_id").cast("long").alias("id"),
        F.col("dist").cast("long").alias("dist"))
    dist = _frontier_relax(
        e, d0, key, max_iters, "matrix_update", stats=stats,
        reseed=_candidates(d0, _cast_edges(improving_edges), key))
    return dist.select("src", F.col("id").alias("node_id"), "dist")


def travel_time_matrix(
    edges: DataFrame,
    sources: list[int],
    max_iters: int = 64,
) -> DataFrame:
    """Multi-source shortest paths → ``(src, node_id, dist)`` for every
    (source, reachable node) pair — the travel-time matrix behind
    catchment/coverage products.

    Same frontier Bellman-Ford as :func:`shortest_paths` but keyed by
    the composite (src, node): ALL sources expand in the SAME rounds and
    the SAME shuffles, so k sources cost one traversal with k× frontier
    rows, not k traversals — the standard batched-SSSP trick.
    """
    e = _edges(edges, "travel_time_matrix")
    key = ("src", "id")
    dist = _frontier_relax(e, _seed(edges.sparkSession, sources, key), key,
                           max_iters, "travel_time_matrix")
    return dist.select("src", F.col("id").alias("node_id"), "dist")


def catchment_assign(matrix: DataFrame) -> DataFrame:
    """Nearest-facility assignment over a travel-time matrix:
    ``(node_id, nearest_src, dist)`` with the deterministic tie rule
    min(dist, src) — one struct-min aggregate (map-side combinable,
    whole-row argmin without a window)."""
    best = F.min(F.struct(F.col("dist"), F.col("src"))).alias("b")
    return (
        matrix.groupBy("node_id")
        .agg(best)
        .select(
            "node_id",
            F.col("b.src").alias("nearest_src"),
            F.col("b.dist").alias("dist"),
        )
    )


def isochrone_bands(dist: DataFrame, band_width: int) -> DataFrame:
    """Reachability bands over an SSSP result: ``(band, n_nodes,
    min_dist, max_dist)`` with band = dist // band_width — the
    isochrone rollup (map-side partial agg, one shuffle on the band).

    Banding uses integer division (``div``), not a double divide +
    truncating cast: long/long in Spark is DOUBLE division, and the
    double round-trip can disagree with exact floor for distances near
    2^53 — the same trap documented for ``operators/graph.py``'s
    pagerank arithmetic, avoided the same way (stay in int64)."""
    bw = int(band_width)
    if bw <= 0:
        raise ValueError("band_width must be a positive integer")
    return (
        dist.groupBy(F.expr(f"dist div {bw}").alias("band"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("dist").alias("min_dist"),
            F.max("dist").alias("max_dist"),
        )
    )


def landmark_dist_table(edges: DataFrame, landmarks: list[int],
                        max_iters: int = 64) -> DataFrame:
    """ALT preprocessing (Goldberg & Harrelson 2005): forward distances
    from each landmark to every node, pivoted to a per-node array in
    landmark-list order → ``(id, ldists array<long>)``. One batched
    multi-source traversal (all landmarks share every round/shuffle);
    unreached (landmark, node) pairs store NULL and contribute no
    bound. Reuse across MANY point-to-point queries is the point — the
    table is node-keyed and joins by id."""
    lms = [int(x) for x in landmarks]
    m = travel_time_matrix(edges, lms, max_iters=max_iters)
    pairs = m.groupBy(F.col("node_id").alias("id")).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("src", "dist"))))
        .alias("_m"))
    arr = F.array(*[F.col("_m").getItem(lm) for lm in lms])
    return pairs.select("id", arr.alias("ldists"))


def astar_route(
    edges: DataFrame,
    source: int,
    target: int,
    ldists: DataFrame,
    landmarks: list[int],
    max_iters: int = 96,
    slack: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Goal-directed point-to-point shortest path: ALT A* run as
    f-BUCKETED best-first expansion (Goldberg & Harrelson landmarks on
    the Δ-stepping loop shape). Lower bound per node (DIRECTED-safe,
    one-sided triangle inequality on forward landmark distances):

        lb(v) = max_l max(0, d(l, target) − d(l, v))

    Each round only frontier nodes with ``f = dist + lb ≤ fmin + slack``
    expand; the rest DEFER (stay queued, re-read their possibly-improved
    dist next round). With a consistent lb this is exact best-first
    search parallelized by bucket: expansion hugs the source→target
    corridor instead of flooding the whole ball — the point-to-point
    answer without paying the SSSP ball (pinned in tests: strictly fewer
    relaxations than the unguided run, same distance as plain SSSP and
    the Dijkstra oracle). Termination: the queue empties, or
    ``fmin ≥ dist(target)`` (every queued node's f lower-bounds any
    path through it to the target — nothing can improve the incumbent).

    ``slack`` trades rounds for wasted expansion exactly like
    Δ-stepping's bucket width (default wmax — a wider bucket washes the
    goal-direction out: at 4·wmax on the 10×10 bench grid the guided
    and unguided runs expanded identically; at wmax the guided run
    relaxes ~18% less with the same round count); O(1) driver rows per
    round (two scalar barriers: bucket min + improvement/incumbent agg).
    Scale shape otherwise identical to :func:`shortest_paths` — the
    pre-partitioned cached edge table, one join + one partial-agg
    shuffle per round, plus an id-keyed join against the (cached,
    node-keyed) landmark table.
    """
    e = _edges(edges, "astar_route")
    if slack is None:
        wmax = e.agg(F.max("w")).collect()[0][0] or 1
        slack = int(wmax)

    # target's landmark vector → L literal constants (one tiny job)
    trow = ldists.where(F.col("id") == int(target)).collect()
    tvec = (trow[0]["ldists"] if trow else [None] * len(landmarks))
    lb_terms = [
        F.greatest(F.lit(0).cast("long"),
                   F.lit(int(tl)) - F.element_at("ldists", i + 1))
        for i, tl in enumerate(tvec) if tl is not None
    ]
    if lb_terms:
        lb_expr = (lb_terms[0] if len(lb_terms) == 1
                   else F.greatest(*lb_terms))
    else:
        lb_expr = F.lit(0).cast("long")
    lbs = persist(ldists.select("id", F.coalesce(lb_expr, F.lit(0).cast("long"))
                                .alias("lb"))
                  .repartition(F.col("id")).sortWithinPartitions("id"))

    inf = 1 << 62
    best = inf
    dist = _seed(edges.sparkSession, [source], ("id",))
    front = dist.select("id").localCheckpoint(eager=True)
    rounds, expanded = 0, 0
    converged = False
    for _ in range(max_iters):
        fr = (front.join(dist, "id")
              .join(lbs, "id", "left")
              .select("id", "dist",
                      (F.col("dist")
                       + F.coalesce("lb", F.lit(0).cast("long")))
                      .alias("f")))
        head = fr.agg(F.min("f").alias("fmin"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
        if not head["n"] or (best < inf and head["fmin"] >= best):
            converged = True
            break
        thr = int(head["fmin"]) + int(slack)
        expand = fr.where((F.col("f") <= thr) & (F.col("f") < best)) \
            .select("id", "dist")
        defer = fr.where((F.col("f") > thr) & (F.col("f") < best)) \
            .select("id")
        merged = _merge(dist, _candidates(expand, e, ("id",)), ("id",))
        # ONE agg: improvement count + incumbent (dangling-fold style)
        row = merged.agg(
            F.sum(F.col("_imp").cast("long")).alias("chg"),
            F.min(F.when(F.col("id") == int(target), F.col("dist")))
            .alias("tbest")).collect()[0]
        if row["tbest"] is not None:
            best = min(best, int(row["tbest"]))
        rounds += 1
        expanded += int(row["chg"] or 0)
        dist = merged.select("id", "dist")
        front = (merged.where("_imp").select("id").unionByName(defer)
                 .distinct().localCheckpoint(eager=True))
    e.unpersist()
    lbs.unpersist()
    if stats is not None:
        stats.update(rounds=rounds, expanded=expanded,
                     best=None if best >= inf else best)
    if not converged:
        raise RuntimeError(
            f"astar_route did not converge in {max_iters} rounds "
            f"(raise max_iters or slack)")
    return (dist.where(F.col("id") == int(target))
            .select(F.col("id").alias("node_id"), "dist"))

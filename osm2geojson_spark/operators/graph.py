"""Graph ranking — deterministic integer PageRank.

Completes the repo's large-graph trio (connected components in
``operators/dedup.dup_clusters``, shortest paths in ``spatial/route``):
rank near-dup cluster representatives, road-network hubs, link graphs.

Float PageRank sums contributions in shuffle order, so two runs (or two
engines) disagree in the last ulps — unacceptable under this repo's
value-exact oracle discipline. This implementation diffuses INTEGER
mass instead: ranks are fixed-point integers summing is associative and
order-free, per-edge contributions are floor divisions, and the damping
step is integer ``(85 · x) // 100`` — every engine and every
partitioning produces bit-identical ranks. The float interpretation
``mass / scale`` converges to standard PageRank as scale → ∞ (pinned
within 1e-6 of a numpy power iteration in tests).

Scale shape per iteration: one equi-join of the mass table against the
(pre-partitioned, cached) edge table + one map-side-combinable integer
sum — the ``dup_clusters``/``shortest_paths`` loop discipline
(localCheckpoint truncation). Dangling mass rides along as a one-row
broadcast aggregate, so each iteration is ONE job and the driver sees
no row data at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist
from osm2geojson_spark.spatial.strpack import holds_rank, prefix_sums

__all__ = ["pagerank", "triangle_count", "k_core", "link_prediction",
           "strongly_connected_components", "hits", "label_propagation",
           "degree_assortativity", "modularity", "closeness_centrality",
           "stress_centrality", "eccentricity_sample",
           "harmonic_centrality", "effective_diameter", "dag_layers"]


def pagerank(
    edges: DataFrame,
    n_iters: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """→ ``(node_id, mass)`` after ``n_iters`` rounds; ``mass/scale`` is
    the PageRank score. ``damping_pct`` is an integer percentage (the
    usual 0.85 → 85). Dangling-node mass is redistributed uniformly
    (the standard convention), in integer arithmetic."""
    spark = edges.sparkSession
    e = persist(
        edges.select(
            F.col("src").cast("long").alias("e_src"),
            F.col("dst").cast("long").alias("e_dst"),
        )
        .distinct()
        .repartition(F.col("e_src"))
        .sortWithinPartitions("e_src")
    )
    nodes = (
        e.select(F.col("e_src").alias("id"))
        .unionByName(e.select(F.col("e_dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outdeg = e.groupBy(F.col("e_src").alias("id")).agg(
        F.count("*").alias("deg"))
    base = (
        nodes.join(outdeg, "id", "left")
        .select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    teleport = ((100 - damping_pct) * scale // 100) // n
    mass = base.select("id", "deg", F.lit(scale // n).alias("mass"))
    for _ in range(n_iters):
        # dangling mass stays a ONE-ROW broadcast DataFrame instead of a
        # driver collect: both it and contrib re-read the checkpointed
        # mass table, so the whole update is a single job per iteration
        # (the localCheckpoint materialization) — the driver never sees
        # a scalar, halving the per-round job barriers
        dangling = (
            mass.where(F.col("deg") == 0)
            .agg(F.coalesce(F.sum("mass"), F.lit(0)).alias("dang"))
        )
        contrib = (
            mass.where(F.col("deg") > 0)
            .join(e, mass.id == e.e_src)
            # `div`, not `/`: long / long is DOUBLE division in Spark
            # and the truncating cast can disagree with exact floor at
            # representation boundaries — `div` stays in int64
            .select(
                F.col("e_dst").alias("id"),
                F.expr("mass div deg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        mass = (
            base.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                "deg",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_pct} * (coalesce(inflow, 0L) "
                        f"+ (dang div {n}))) div 100"
                    )
                ).cast("long").alias("mass"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return mass.select(F.col("id").alias("node_id"), "mass")


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list —
    ``(node, n_tri)`` for every vertex in ≥1 triangle.

    Degree-ordered orientation (the standard skew killer): each
    undirected edge points from its lower-(degree, id) endpoint to the
    higher one, which (a) makes the orientation an acyclic total order
    so every triangle is generated EXACTLY once as a wedge at its
    lowest vertex closed by one oriented edge, and (b) bounds every
    out-degree by O(sqrt(m)) — the wedge self-join that explodes on a
    celebrity vertex in the naive formulation stays polynomial on
    power-law graphs. Three shuffles total (degree agg, wedge join,
    closing join) + the final per-vertex count; no driver data, no
    iteration.
    """
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    canon = (edges.select(a, b)
             .where(F.col("a") != F.col("b")).distinct())
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    oriented = (
        canon
        .join(deg.withColumnRenamed("node", "a")
                 .withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b")
                 .withColumnRenamed("deg", "db"), "b")
        .select(
            F.when((F.col("da") < F.col("db"))
                   | ((F.col("da") == F.col("db"))
                      & (F.col("a") < F.col("b"))),
                   F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when((F.col("da") < F.col("db"))
                   | ((F.col("da") == F.col("db"))
                      & (F.col("a") < F.col("b"))),
                   F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u")) & (F.col("o1.v") < F.col("o2.v")),
    ).select(
        F.col("o1.u").alias("u"),
        F.col("o1.v").alias("x"),
        F.col("o2.v").alias("y"),
    )
    # close the wedge: the oriented edge between x and y can point
    # either way under the (deg, id) order
    closer = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y"))
    tris = wedges.withColumn("lo", F.least("x", "y")) \
                 .withColumn("hi", F.greatest("x", "y")) \
                 .drop("x", "y") \
                 .join(closer.withColumnRenamed("x", "lo")
                             .withColumnRenamed("y", "hi"),
                       ["lo", "hi"])
    members = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("lo").alias("node")))
        .unionAll(tris.select(F.col("hi").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_tri"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 1_000,
) -> DataFrame:
    """Vertices of the k-core (the maximal subgraph where every vertex
    keeps degree ≥ k) with their in-core degree — the standard peel:
    repeatedly delete vertices of degree < k until a fixpoint. The
    corpus-curation use is the same as dup_clusters': a near-dup edge
    graph's 2-core separates clustered boilerplate from incidental
    pairs; on link graphs it is the classic spam/core split.

    Distributed shape per round: one degree aggregation (map-side
    combinable int count) + two broadcast-able anti-joins against the
    kill set (the kill set is the SMALL side by construction — it only
    holds vertices whose degree just dropped below k). O(1) driver rows
    per round (a limit(1) emptiness probe on the kill set);
    localCheckpoint truncates lineage. Rounds = peel depth ≤ graph
    degeneracy ≤ O(sqrt m); each round strictly shrinks the edge set,
    so late rounds are cheap. No skew surface: a celebrity vertex that
    SURVIVES never moves; one that dies is one row in the kill set.

    Degree = number of distinct neighbors (parallel edges and self
    loops dropped up front). Returns ``(node, deg)``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    canon = (edges.select(a, b)
             .where(F.col("a") != F.col("b")).distinct())
    adj = (canon.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionAll(canon.select(F.col("b").alias("u"),
                                  F.col("a").alias("v")))
           .repartition("u")
           .localCheckpoint(eager=True))
    for _ in range(max_rounds):
        deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        kill = deg.where(F.col("deg") < k).select("u")
        if kill.limit(1).count() == 0:
            return deg.select(F.col("u").alias("node"), "deg")
        adj = (adj.join(kill, "u", "left_anti")
               .join(kill.withColumnRenamed("u", "v"), "v", "left_anti")
               .select("u", "v")
               .localCheckpoint(eager=True))
    raise RuntimeError(
        f"k_core did not reach a fixpoint within {max_rounds} rounds")


def strongly_connected_components(
    edges: DataFrame, max_outer: int = 12, max_inner: int = 200,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph →
    ``(id, scc_id)`` with scc_id = the smallest member id (canonical).

    The Pregel/Orzan COLORING algorithm — the standard distributed SCC
    recipe (Tarjan is inherently sequential):

    per outer phase, over the still-unassigned subgraph:
      1. **forward max-color fixpoint**: color(v) ← max over v and its
         in-neighbors' colors, to convergence ⇒ color(v) = the max id
         that can reach v. A node with color(v) == v is a root.
      2. **backward reach within color**: starting from the roots, add
         u whenever an edge u→w has w reached AND color(u) == color(w).
         The reached set of root r is exactly SCC(r) (w reaches r
         inside r's color class, and r reaches w by definition of the
         color) — every color class resolves ONE SCC per phase, all
         classes in parallel.
      3. assign, subtract, repeat on the remainder.

    Loop discipline is dup_clusters': every carried frame is
    localCheckpoint-truncated, the driver sees one count per round,
    edges live pre-partitioned+persisted per phase. Phases needed =
    the length of the longest root-chain (≤ #SCCs, O(log) typical);
    inner rounds = subgraph diameter. Both bounds fail LOUDLY when
    exceeded (silent partial labels are worse than a retry with a
    bigger budget)."""
    nodes = (
        edges.select(F.col("src").cast("long").alias("id"))
        .unionByName(edges.select(F.col("dst").cast("long").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rem_edges = persist(
        edges.select(F.col("src").cast("long").alias("src"),
                     F.col("dst").cast("long").alias("dst"))
        .distinct()
        .repartition(F.col("dst"))
    )
    remaining = nodes
    assigned = None
    for _phase in range(max_outer):
        if remaining.isEmpty():
            break
        color = remaining.withColumn(
            "color", F.col("id")).localCheckpoint(eager=True)
        for _ in range(max_inner):
            msgs = (
                rem_edges.join(color, rem_edges.src == color.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max("color").alias("mc"))
            )
            upd = (
                color.join(msgs, "id", "left")
                .select(
                    "id",
                    F.greatest(F.col("color"),
                               F.coalesce("mc", F.col("color")))
                    .alias("color"),
                    (F.col("mc") > F.col("color")).alias("_chg"))
                .localCheckpoint(eager=True)
            )
            chg = upd.filter(F.col("_chg")).count()
            color = upd.select("id", "color")
            if chg == 0:
                break
        else:
            raise RuntimeError(
                f"SCC forward fixpoint exceeded {max_inner} rounds "
                "(subgraph diameter too large); raise max_inner")
        reached = (color.where(F.col("color") == F.col("id"))
                   .localCheckpoint(eager=True))
        for _ in range(max_inner):
            cand = (
                rem_edges
                .join(reached.select(F.col("id").alias("dst"),
                                     F.col("color").alias("rcolor")),
                      "dst")
                .select(F.col("src").alias("id"), "rcolor")
                .join(color, "id")
                .where(F.col("color") == F.col("rcolor"))
                .select("id", "color")
            )
            new_reached = (reached.unionByName(cand).distinct()
                           .localCheckpoint(eager=True))
            grew = new_reached.count() - reached.count()
            reached = new_reached
            if grew == 0:
                break
        else:
            raise RuntimeError(
                f"SCC backward reach exceeded {max_inner} rounds; "
                "raise max_inner")
        part = reached.select("id", F.col("color").alias("root"))
        assigned = part if assigned is None else (
            assigned.unionByName(part).localCheckpoint(eager=True))
        remaining = (remaining.join(reached.select("id"), "id",
                                    "left_anti")
                     .localCheckpoint(eager=True))
        still = remaining.select("id")
        rem_edges = persist(
            rem_edges
            .join(still.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(still.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .repartition(F.col("dst"))
        )
    else:
        raise RuntimeError(
            f"SCC did not finish in {max_outer} phases; raise max_outer")
    # canonical relabel: root id (max-reaching) → min member id. Plain
    # shuffle join — #SCCs is O(n) on a DAG, never assume broadcastable
    mins = assigned.groupBy("root").agg(F.min("id").alias("scc_id"))
    return assigned.join(mins, "root").select("id", "scc_id")


def link_prediction(edges: DataFrame,
                    max_degree: int | None = None) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph:
    for every NON-adjacent pair sharing ≥ 1 neighbor, the classic
    exact-integer scores — common-neighbor count ``cn`` and the
    preferential-attachment product ``deg_u·deg_v`` (Adamic-Adar's
    1/log weights are floats; these two are the order-stable integer
    members of the family). ``edges`` is (src, dst) in any
    orientation/duplication — canonicalized first.

    Distributed shape: one wedge join through the shared neighbor
    (fan-out Σ_w deg(w)² — the same bound as triangle counting), one
    pair-key count shuffle, an anti-join against the edge set, two
    broadcast-friendly degree joins. ``max_degree`` drops hub WEDGE
    CENTERS above the cap (the standard production guard: a
    celebrity node contributes deg² candidate pairs and ~zero
    signal); None = exact."""
    e = (edges.select(
        F.least(F.col("src"), F.col("dst")).cast("long").alias("u"),
        F.greatest(F.col("src"), F.col("dst")).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct())
    adj = (e.select(F.col("u").alias("a"), F.col("v").alias("b"))
           .unionAll(e.select(F.col("v").alias("a"),
                              F.col("u").alias("b"))))
    deg = adj.groupBy("a").agg(F.count("*").alias("dg"))
    center = adj
    if max_degree is not None:
        center = adj.join(
            deg.where(F.col("dg") <= int(max_degree)).select("a"), "a")
    cn = (center.alias("x")
          .join(center.alias("y"),
                (F.col("x.a") == F.col("y.a"))
                & (F.col("x.b") < F.col("y.b")))
          .groupBy(F.col("x.b").alias("u"), F.col("y.b").alias("v"))
          .agg(F.count("*").alias("cn")))
    ne = cn.join(e, ["u", "v"], "left_anti")
    du = deg.select(F.col("a").alias("u"), F.col("dg").alias("deg_u"))
    dv = deg.select(F.col("a").alias("v"), F.col("dg").alias("deg_v"))
    return (ne.join(du, "u").join(dv, "v")
            .select("u", "v", "cn", "deg_u", "deg_v",
                    (F.col("deg_u") * F.col("deg_v")).alias("pa")))


def clustering_coeff(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient as EXACT rationals: per node
    ``(node, deg, n_tri, possible)`` with possible = C(deg, 2) —
    the coefficient is n_tri/possible, compared cross-multiplied,
    never divided. Rides :func:`triangle_count`'s degree-ordered
    orientation (the wedge-join skew bound) plus one degree join;
    degree-1 nodes report possible = 0 (coefficient undefined —
    callers filter, the honest convention)."""
    a = F.least(F.col("src"), F.col("dst")).alias("a")
    b = F.greatest(F.col("src"), F.col("dst")).alias("b")
    canon = (edges.select(a, b)
             .where(F.col("a") != F.col("b")).distinct())
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    tri = triangle_count(canon, "a", "b")
    return (deg.join(tri, "node", "left")
            .select("node", "deg",
                    F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
                    F.expr("(deg * (deg - 1)) div 2").alias("possible")))


def hits(
    edges: DataFrame,
    n_iters: int = 8,
    scale: int = 10**8,
) -> DataFrame:
    """Deterministic integer HITS → ``(node_id, hub, auth)`` after
    ``n_iters`` rounds; hub/scale and auth/scale are the (L1-normalized)
    hub and authority scores.

    Same discipline as :func:`pagerank`: float HITS normalizes by a
    sum whose accumulation order varies with partitioning, so the
    scores drift in the last ulps between runs. Here every update is
    integer — auth(v) = Σ hub(u) over in-edges (an order-free int64
    sum), then an L1 rescale ``raw · scale div total`` where ``total``
    rides along as a ONE-ROW broadcast aggregate (no driver scalar).
    The ``raw · scale`` product can exceed int64 on large graphs, so
    the rescale runs through DECIMAL(38,0) — exact, and `div` keeps the
    floor semantics the pyref twin reproduces with Python big ints.
    Two equi-joins + two integer-sum shuffles per round against a
    pre-partitioned persisted edge table; localCheckpoint truncation.
    """
    e = persist(
        edges.select(
            F.col("src").cast("long").alias("e_src"),
            F.col("dst").cast("long").alias("e_dst"),
        )
        .where(F.col("e_src") != F.col("e_dst"))
        .distinct()
        .repartition(F.col("e_src"))
    )
    nodes = (
        e.select(F.col("e_src").alias("id"))
        .unionByName(e.select(F.col("e_dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _rescale(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(
            F.coalesce(F.sum(col), F.lit(0)).cast("decimal(38,0)")
            .alias("_tot"))
        return (
            df.crossJoin(F.broadcast(total))
            .select(
                "id",
                F.when(
                    F.col("_tot") > 0,
                    F.expr(
                        f"CAST((CAST({col} AS DECIMAL(38,0))"
                        f" * {scale}) DIV _tot AS BIGINT)"),
                ).otherwise(F.lit(0)).alias(col),
            )
        )

    state = nodes.select(
        "id", F.lit(int(scale)).alias("hub"),
        F.lit(int(scale)).alias("auth"))
    for _ in range(n_iters):
        auth_raw = (
            state.join(e, state.id == e.e_src)
            .groupBy(F.col("e_dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = _rescale(
            nodes.join(auth_raw, "id", "left")
            .select("id", F.coalesce("auth", F.lit(0)).alias("auth")),
            "auth").localCheckpoint(eager=True)
        hub_raw = (
            auth.join(e, auth.id == e.e_dst)
            .groupBy(F.col("e_src").alias("id"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = _rescale(
            nodes.join(hub_raw, "id", "left")
            .select("id", F.coalesce("hub", F.lit(0)).alias("hub")),
            "hub")
        state = (
            hub.join(auth, "id")
            .select("id", "hub", "auth")
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return state.select(F.col("id").alias("node_id"), "hub", "auth")


def label_propagation(
    edges: DataFrame,
    n_iters: int = 4,
) -> DataFrame:
    """SYNCHRONOUS label propagation communities → ``(node, label)``.

    Classic LPA with the two determinism choices pinned: updates are
    synchronous (every node votes on the PREVIOUS round's labels — the
    asynchronous variant depends on visit order), and ties among
    equally-frequent neighbor labels break to the SMALLEST label. Both
    choices make the result a pure function of the graph, so the pyref
    twin is bit-exact. Labels start as node ids; isolated nodes keep
    their own label. Distinct from min-label connected components
    (``dedup.dup_clusters``): LPA splits dense regions joined by thin
    bridges instead of flooding whole components.

    Per round: one labels⋈adjacency equi-join + one (node, label)
    count + one per-node argmax via ``max(struct(cnt, -label))`` —
    all map-side combinable, no driver data, localCheckpoint
    truncation. Fixed round budget (LPA is not guaranteed to converge;
    the synchronous form can 2-cycle on bipartite regions — a fixed
    even budget is the standard, reproducible convention)."""
    a = F.least(F.col("src"), F.col("dst")).cast("long").alias("a")
    b = F.greatest(F.col("src"), F.col("dst")).cast("long").alias("b")
    canon = (edges.select(a, b)
             .where(F.col("a") != F.col("b")).distinct())
    adj = persist(canon.select(F.col("a").alias("u"), F.col("b").alias("v"))
                  .unionAll(canon.select(F.col("b").alias("u"),
                                         F.col("a").alias("v")))
                  .repartition("v"))
    nodes = (adj.select(F.col("u").alias("node")).distinct()
             .localCheckpoint(eager=True))
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iters):
        votes = (
            adj.join(labels, adj.v == labels.node)
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = (
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"),
                                (-F.col("label")).alias("neg")))
                 .alias("top"))
            .select("node", (-F.col("top.neg")).alias("new_label"))
        )
        labels = (
            nodes.join(best, "node", "left")
            .join(labels.withColumnRenamed("label", "old"), "node")
            .select("node",
                    F.coalesce("new_label", "old").alias("label"))
            .localCheckpoint(eager=True)
        )
    adj.unpersist()
    return labels


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Pearson correlation of endpoint degrees
    over all directed realizations of the undirected edge set) as ONE
    row ``(n_pairs, sx, sxx, sxy, r)`` — the Newman mixing coefficient.

    Every moment is an EXACT int64 power sum (degrees are small ints;
    sums over 2m pairs are order-free), and the final ``r`` is a
    single double expression written identically in the SQL twin, so
    the doubles agree bit-for-bit (the anomaly_zscore discipline). By
    the both-orientations symmetry sx == sy and sxx == syy, so one
    copy of each is kept. Shape: degree agg + two degree joins + one
    global agg — no iteration, no skew surface."""
    a = F.least(F.col("src"), F.col("dst")).cast("long").alias("a")
    b = F.greatest(F.col("src"), F.col("dst")).cast("long").alias("b")
    canon = (edges.select(a, b)
             .where(F.col("a") != F.col("b")).distinct())
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("dg")))
    pairs = (
        canon
        .join(deg.select(F.col("node").alias("a"),
                         F.col("dg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("dg").alias("db")), "b")
        .select(
            F.col("da").alias("x"), F.col("db").alias("y"))
    )
    both = pairs.unionAll(pairs.select(F.col("y").alias("x"),
                                       F.col("x").alias("y")))
    agg = both.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    # degree-regular graphs have zero degree variance: the Pearson
    # denominator is 0 and r is undefined — return NULL (never throw
    # under ANSI mode) and leave the exact moments for the caller.
    # The guard is on the DOUBLE product (an int64 guard could itself
    # overflow-throw under ANSI at planet-scale moments).
    r = ("CASE WHEN ((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE))"
         " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) = 0.0E0"
         " THEN NULL ELSE"
         " ((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE))"
         " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
         " / ((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE))"
         " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) END")
    return agg.select("n_pairs", "sx", "sxx", "sxy",
                      F.expr(r).alias("r"))


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity contributions as EXACT integer
    rationals → ``(label, n_nodes, m_in, d_tot, q_num, q_den)`` where
    the community's modularity share is q_num/q_den and the partition
    modularity is Σ q_num / q_den.

    Q = Σ_c [ m_c/m − (d_c/2m)² ] = Σ_c (4·m·m_c − d_c²) / (4m²) — the
    numerator/denominator form keeps everything in int64 (the
    clustering_coeff cross-multiplication discipline; m ≤ ~10⁹ before
    4m² leaves the int64 range, far beyond any per-partition slice a
    caller would score in one call). ``labels`` is (node, label) —
    typically :func:`label_propagation` output. Shape: two label
    joins + two small aggs; no iteration."""
    a = F.least(F.col("src"), F.col("dst")).cast("long").alias("a")
    b = F.greatest(F.col("src"), F.col("dst")).cast("long").alias("b")
    canon = persist(edges.select(a, b)
                    .where(F.col("a") != F.col("b")).distinct())
    m = canon.count()
    la = labels.select(F.col("node").alias("a"),
                       F.col("label").alias("lab_a"))
    lb = labels.select(F.col("node").alias("b"),
                       F.col("label").alias("lab_b"))
    tagged = canon.join(la, "a").join(lb, "b")
    m_in = (tagged.where(F.col("lab_a") == F.col("lab_b"))
            .groupBy(F.col("lab_a").alias("label"))
            .agg(F.count(F.lit(1)).alias("m_in")))
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("dg")))
    d_tot = (labels.join(deg, "node", "left")
             .groupBy("label")
             .agg(F.count(F.lit(1)).alias("n_nodes"),
                  F.sum(F.coalesce("dg", F.lit(0))).alias("d_tot")))
    out = (
        d_tot.join(m_in, "label", "left")
        .select(
            "label", "n_nodes",
            F.coalesce("m_in", F.lit(0)).alias("m_in"),
            "d_tot",
            (F.lit(4 * m) * F.coalesce("m_in", F.lit(0))
             - F.col("d_tot") * F.col("d_tot")).alias("q_num"),
            F.lit(4 * m * m).alias("q_den"),
        )
    )
    canon.unpersist()
    return out


def closeness_centrality(edges: DataFrame, sources: list,
                         **matrix_kwargs) -> DataFrame:
    """Weighted closeness centrality for a set of seed nodes →
    ``(src, n_reached, sum_dist, closeness)`` with
    ``closeness = (n_reached − 1) / Σ dist`` over the reachable set
    (the classic within-component definition; n_reached counts the
    source itself, whose zero distance contributes nothing).

    Rides :func:`osm2geojson_spark.spatial.route.travel_time_matrix_delta`
    — the batched Δ-stepping multi-source SSSP (broadcast-edge
    full-relax under the cap, distributed block cogroup above it) —
    then ONE metadata-sized aggregate per source. Exact integer
    ``n_reached`` / ``sum_dist``; only the final ratio is a double,
    NULL for isolated sources (Σ dist = 0). Centrality-at-scale is a
    sampling story: callers pick the seed set (landmarks, stratified
    samples) and the per-source cost is one SSSP, embarrassingly
    parallel across seeds."""
    from osm2geojson_spark.spatial.route import travel_time_matrix_delta

    m = travel_time_matrix_delta(edges, sources, **matrix_kwargs)
    return (
        m.groupBy("src")
        .agg(F.count("*").alias("n_reached"),
             F.sum("dist").alias("sum_dist"))
        .select("src", "n_reached", "sum_dist",
                F.expr("CASE WHEN sum_dist = 0 THEN NULL ELSE"
                       " CAST(n_reached - 1 AS DOUBLE)"
                       " / CAST(sum_dist AS DOUBLE) END")
                .alias("closeness")))


def stress_centrality(edges: DataFrame, sources: list,
                      max_rounds: int = 128) -> DataFrame:
    """Sampled STRESS centrality (Shimbel) → ``(node, stress)``: the
    number of shortest paths from the seed set that pass THROUGH each
    node — the exactly-computable cousin of betweenness (betweenness
    accumulates σ-RATIOS, floats whose summation order varies with
    partitioning; path COUNTS are int64 and order-free, so the oracle
    discipline holds).

    Two distributed waves per BFS batch, all sources at once:
    forward — unweighted frontier BFS carrying ``(src, node, dist,
    sigma)`` where σ (shortest-path multiplicity) sums over
    same-round predecessors; backward — by DESCENDING distance, the
    DAG-path tally ``P(v) = Σ_{w ∈ dagsucc(v)} (1 + P(w))``, so
    ``σ_sv · P(v)`` counts every shortest path s→·→t through v
    exactly once per target. Both waves are frontier joins against
    the persisted edge table with localCheckpoint truncation (the
    pagerank loop discipline); rounds = graph diameter each way.
    The seed set is the sampling story at scale (landmarks /
    stratified seeds), exactly like closeness."""
    spark = edges.sparkSession
    e = persist(
        edges.select(
            F.col("src").cast("long").alias("e_src"),
            F.col("dst").cast("long").alias("e_dst"))
        .where(F.col("e_src") != F.col("e_dst"))
        .distinct()
        .repartition(F.col("e_src")))
    e.count()
    # ---- forward BFS: settled (src, id, dist, sigma)
    settled = spark.createDataFrame(
        [(int(s), int(s), 0, 1) for s in set(sources)],
        "src long, id long, dist long, sigma long",
    ).localCheckpoint(eager=True)
    frontier = settled
    d = 0
    while True:
        if frontier.limit(1).count() == 0:
            break
        d += 1
        if d > max_rounds:
            e.unpersist()
            raise RuntimeError(
                f"stress_centrality forward BFS exceeded {max_rounds} "
                f"rounds; raise max_rounds (rounds = graph diameter)")
        nxt = (
            frontier.join(e, frontier.id == e.e_src)
            .groupBy("src", F.col("e_dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(settled.select("src", "id", F.lit(1).alias("_seen")),
                  ["src", "id"], "left_anti")
            .select("src", "id", F.lit(d).alias("dist"), "sigma")
            .localCheckpoint(eager=True))
        settled = settled.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    # ---- backward wave: P(v) by descending distance over the BFS DAG
    # DAG edge for source s: (u → w) with dist_s(w) = dist_s(u) + 1
    su = settled.select(F.col("src").alias("s"), F.col("id").alias("u"),
                        F.col("dist").alias("du"))
    sw = settled.select(F.col("src").alias("s2"), F.col("id").alias("w"),
                        F.col("dist").alias("dw"))
    dag = persist(
        e.join(su, (e.e_src == su.u))
        .join(sw, (F.col("e_dst") == sw.w) & (su.s == sw.s2)
              & (sw.dw == su.du + 1))
        .select("s", "u", "w", "du")
        .repartition(F.col("s"), F.col("w")))
    dag.count()
    maxd = settled.agg(F.max("dist").alias("m")).collect()[0]["m"] or 0
    # P rows only materialize where non-zero; absent = leaf (P = 0)
    p = spark.createDataFrame([], "s long, u long, p long") \
        .localCheckpoint(eager=True)
    for dd in range(int(maxd) - 1, -1, -1):
        layer = (
            dag.where(F.col("du") == dd)
            .join(p.select("s", F.col("u").alias("w"),
                           F.col("p").alias("pw")), ["s", "w"], "left")
            .groupBy("s", "u")
            .agg(F.sum(F.coalesce("pw", F.lit(0)) + 1).alias("p")))
        p = p.unionByName(layer).localCheckpoint(eager=True)
    out = (
        settled.where(F.col("dist") > 0)
        .join(p, (settled.src == p.s) & (settled.id == p.u))
        .select("id", (F.col("sigma") * F.col("p")).alias("contrib"))
        .groupBy(F.col("id").alias("node"))
        .agg(F.sum("contrib").alias("stress")))
    e.unpersist()
    dag.unpersist()
    return out


def eccentricity_sample(edges: DataFrame, sources: list,
                        **matrix_kwargs) -> DataFrame:
    """Sampled weighted eccentricity → ``(src, n_reached, ecc)`` plus
    the running ``diam_lb`` (the max eccentricity over the sample — the
    classic double-sweep diameter LOWER bound; exact diameter is
    all-pairs and off the table at scale by design).

    Same substrate as :func:`closeness_centrality`: one Δ-stepping
    multi-source matrix over the seed set, then one metadata-sized
    aggregate per source — all int64, no floats anywhere, so the
    oracle discipline is trivial. Seeds are the caller's sampling
    policy (landmarks / stratified), the per-seed cost is one SSSP."""
    from osm2geojson_spark.spatial.route import travel_time_matrix_delta

    m = travel_time_matrix_delta(edges, sources, **matrix_kwargs)
    per_src = (m.groupBy("src")
               .agg(F.count("*").alias("n_reached"),
                    F.max("dist").alias("ecc")))
    lb = per_src.agg(F.max("ecc").alias("diam_lb"))
    return per_src.crossJoin(F.broadcast(lb)) \
                  .select("src", "n_reached", "ecc", "diam_lb")


def harmonic_centrality(edges: DataFrame, sources: list,
                        **matrix_kwargs) -> DataFrame:
    """Sampled harmonic centrality → ``(src, n_reached, harmonic)``
    with ``harmonic = Σ_{v≠src} 1/d(src,v)`` — the disconnection-robust
    closeness variant (unreachable nodes contribute 0 instead of
    poisoning the mean).

    The reciprocal sum is irrational, so it rides the repo's ordered-
    fold discipline: distances collapse to a per-source DISTANCE
    HISTOGRAM (metadata-sized — grid weights are bounded ints), and
    ``Σ n_d/d`` folds over the dist-sorted histogram with a fixed
    0.0 init (``F.aggregate`` == the pyref twin's left fold — same
    IEEE op order, bit-identical). Same Δ-stepping matrix substrate
    as closeness/eccentricity."""
    from osm2geojson_spark.spatial.route import travel_time_matrix_delta

    m = travel_time_matrix_delta(edges, sources, **matrix_kwargs)
    hist = (m.groupBy("src", "dist")
            .agg(F.count("*").alias("n_d")))
    return (hist.groupBy("src")
            .agg(F.sum("n_d").cast("long").alias("n_reached"),
                 F.expr(
                     "aggregate(sort_array(collect_list("
                     "  struct(dist, n_d))), CAST(0.0 AS DOUBLE),"
                     " (acc, x) -> acc + (CASE WHEN x.dist = 0"
                     " THEN CAST(0.0 AS DOUBLE)"
                     " ELSE CAST(x.n_d AS DOUBLE)"
                     " / CAST(x.dist AS DOUBLE) END))")
                 .alias("harmonic")))


def effective_diameter(edges: DataFrame, sources: list,
                       p_ppm: int = 900_000,
                       **matrix_kwargs) -> DataFrame:
    """Sampled effective diameter → ONE row ``(n_pairs, k, eff_diam)``:
    the smallest distance d such that ≥ p (default 90%) of reachable
    sampled (source, node) pairs lie within d — the classic
    small-world statistic, EXACT by construction: the pooled distance
    multiset collapses to a histogram (metadata-sized), the rank
    ``k = ceil(p·n_pairs)`` is located by a cumulative walk over the
    distance-sorted histogram, and ``eff_diam`` is a real data value
    (int64, no interpolation). Same Δ-stepping matrix substrate as
    closeness/eccentricity/harmonic."""
    from osm2geojson_spark.spatial.route import travel_time_matrix_delta

    p = int(p_ppm)
    if not 0 < p <= 1_000_000:
        raise ValueError("p_ppm must be in (0, 1e6]")
    m = travel_time_matrix_delta(edges, sources, **matrix_kwargs)
    hist = m.groupBy("dist").agg(F.count("*").alias("n_d"))
    tot = hist.agg(F.sum("n_d").alias("n_pairs"))
    walk = (prefix_sums(hist.crossJoin(F.broadcast(tot)), ["dist"],
                        {"cum": "n_d"})
            .withColumn("k", F.expr(
                f"CAST((({p} * n_pairs) + 999999) div 1000000"
                " AS BIGINT)")))
    return (walk.where(holds_rank("k", "cum", "n_d"))
            .select("n_pairs", "k", F.col("dist").alias("eff_diam")))


def dag_layers(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Longest-path layering of a DAG → ``(node, layer)`` — the
    dependency-scheduling depth (build stages, lineage depth):
    layer 0 = sources (zero in-degree), layer r = nodes whose
    predecessors all sit in layers < r with at least one in r−1.

    The Kahn peel as distributed rounds (the k_core discipline): each
    round removes the current zero-in-degree frontier, stamps it with
    the round index, and decrements successors — implemented
    join-free-ish as repeated anti-joins against the shrinking edge
    set with localCheckpoint truncation; rounds = DAG depth, the
    driver sees ONE count per round. Raises if ``max_rounds`` passes
    leave edges standing (a cycle — not a DAG)."""
    e = (edges.select(F.col("src").cast("long").alias("src"),
                      F.col("dst").cast("long").alias("dst"))
         .where("src IS NOT NULL AND dst IS NOT NULL").distinct()
         .localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    out = None
    remaining = nodes
    for r in range(int(max_rounds)):
        if remaining.isEmpty():
            break
        with_pred = e.select(F.col("dst").alias("node")).distinct()
        frontier = (remaining.join(with_pred, "node", "left_anti")
                    .select("node", F.lit(r).cast("long")
                            .alias("layer"))
                    .localCheckpoint(eager=True))
        if frontier.isEmpty():
            raise ValueError(
                f"cycle detected: no zero-in-degree node at round {r}")
        out = frontier if out is None else out.unionByName(frontier)
        remaining = (remaining
                     .join(frontier.select("node"), "node", "left_anti")
                     .localCheckpoint(eager=True))
        e = (e.join(frontier.select(F.col("node").alias("src")), "src",
                    "left_anti")
             .localCheckpoint(eager=True))
    else:
        if not remaining.isEmpty():
            raise ValueError(
                f"dag_layers did not finish in {max_rounds} rounds")
    return out if out is not None else nodes.select(
        "node", F.lit(0).cast("long").alias("layer"))

"""G3 — kNN via cell-ring expansion (SURVEY.md §2.4 G3).

Query points carry their (ix, iy) grid coords; round r joins the corpus
on the Morton cells of the (2(r+margin)+1)^2 disk around each query in
ONE join, tagging each candidate with its Chebyshev cell distance. A
query exits when it has ≥ K candidates within the INNER disk (radius r)
and is scored over the expanded disk. With the default margin=1 this is
exact whenever the k-th neighbor lies within r grid cells of the query
(the common case); adversarial corner placements can hide a closer point
in the √2-annulus — raise ``margin`` to ceil(0.42·r)+1 for strict
worst-case exactness (costs ~2x candidates). Driver loop is over ROUNDS
(log-ish, bounded), never over rows; the loop-carried frontier is
persisted so the plan does not deepen quadratically across rounds.

Distance: haversine (column expr, codegen'd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2geojson_spark.functions import cells as C
from osm2geojson_spark.session import persist


def haversine_expr(lon1, lat1, lon2, lat2):
    """Great-circle distance in km."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) ** 2
    return F.lit(6371.0088) * 2 * F.asin(F.sqrt(a))


def _disk_cells(ix, iy, k: int, res: int):
    """Morton cells of the (2k+1)^2 disk, clamped to the grid."""
    n = 1 << res
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.lit(-k), F.lit(k)),
                lambda dx: F.transform(
                    F.sequence(F.lit(-k), F.lit(k)),
                    lambda dy: C.cell_from_ixiy(
                        F.least(F.greatest(ix + dx, F.lit(0)), F.lit(n - 1)),
                        F.least(F.greatest(iy + dy, F.lit(0)), F.lit(n - 1)),
                    ),
                ),
            )
        )
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 8,
    max_rounds: int = 4,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    margin: int = 1,
    metric: str = "haversine",
) -> DataFrame:
    """For each query row: its k nearest corpus rows.

    corpus(id, lon, lat), queries(id, lon, lat) →
    (query_id, corpus_id, dist_km, rank). Deterministic tie-break on
    corpus id. Inner radius doubles per round: 1, 2, 4, …; the last
    round exits every remaining query (bounded work).

    ``metric``: "haversine" (km, default) or "planar" (squared degree
    distance, column aliased ``dist2`` — mul/add only, so results are
    bit-exact against a SQL oracle; the cell grid is equal-degree, which
    makes the planar metric the one with a clean grid-margin exactness
    bound: a point at squared distance d has Chebyshev cell distance
    ≤ sqrt(d)/cellsize + 1)."""
    c = persist(corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(lon_col).alias("clon"), F.col(lat_col).alias("clat"),
        C.cell_expr(F.col(lon_col), F.col(lat_col), res).alias("cell"),
        C.lon_ix(F.col(lon_col), res).alias("cix"),
        C.lat_iy(F.col(lat_col), res).alias("ciy"),
    ))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(lon_col).alias("qlon"), F.col(lat_col).alias("qlat"),
        C.lon_ix(F.col(lon_col), res).alias("ix"),
        C.lat_iy(F.col(lat_col), res).alias("iy"),
    )

    dist_name = "dist_km" if metric == "haversine" else "dist2"
    w = Window.partitionBy("query_id").orderBy(F.asc(dist_name), F.asc("corpus_id"))
    answered = None
    pending = q
    radius = 1
    for round_no in range(max_rounds):
        last = round_no == max_rounds - 1
        # ONE join per round at radius+margin; cheb tags the inner disk
        cand = persist(
            pending.withColumn(
                "cell", F.explode(_disk_cells(F.col("ix"), F.col("iy"), radius + margin, res)))
            .join(c, "cell")
            .select(
                "query_id", "qlon", "qlat",
                F.greatest(F.abs(F.col("ix") - F.col("cix")),
                           F.abs(F.col("iy") - F.col("ciy"))).alias("cheb"),
                "corpus_id", "clon", "clat",
            )
        )
        inner_counts = cand.filter(F.col("cheb") <= radius) \
            .groupBy("query_id").agg(F.count("*").alias("n_inner"))
        enough = (inner_counts.filter(F.col("n_inner") >= k) if not last
                  else cand.select("query_id").distinct()).select("query_id")
        if metric == "haversine":
            dist = haversine_expr(F.col("qlon"), F.col("qlat"),
                                  F.col("clon"), F.col("clat"))
        else:  # planar: EXACT operand order mirrors the SQL oracle
            dist = ((F.col("qlon") - F.col("clon")) * (F.col("qlon") - F.col("clon"))
                    + (F.col("qlat") - F.col("clat")) * (F.col("qlat") - F.col("clat")))
        scored = (
            cand.join(enough, "query_id", "semi")
            .select("query_id", "corpus_id", dist.alias(dist_name))
        )
        topk = scored.withColumn("rank", F.row_number().over(w)) \
            .filter(F.col("rank") <= k)
        answered = topk if answered is None else answered.unionByName(topk)
        if last:
            break
        pending = persist(pending.join(enough, "query_id", "anti"))
        radius *= 2
    # Materialization happens downstream, so frontiers must stay cached
    # until the caller has consumed the result — a lazy operator cannot
    # know when that is. Consume it inside session.owned, which then
    # releases every frontier (cand/pending per round + the cell-indexed
    # corpus).
    return answered

"""Distributed ALS matrix factorization (implicit-size recommender).

The flagship iterative-ML workload Spark was built around (MLlib's
original showcase), re-expressed under this repo's exactness
discipline: every half-step is ONE shuffle join (ratings ⋈ the other
side's factors on that side's id) plus ONE groupBy solve — factors
NEVER pass through the driver and neither side is ever broadcast, so
the same plan runs when users and items are both billions of rows.

Determinism (the reason this can sit under a value-exact oracle):

- init factors are a closed-form hash (pyref.als_init_factor);
- the per-entity normal equations use EXPLICIT per-entry numpy sums
  (no BLAS matmul — thread heuristics make dgemm bit-unstable across
  processes) over rows sorted by the other side's id;
- the d×d solve is pyref.solve_linear — hand-rolled Gaussian
  elimination with partial pivoting, no LAPACK;
- so executor kernels and the Spark-free pyref twin produce
  bit-identical doubles, and the published factors quantize to int64
  safely.

Cited-from-reference: none — the reference engine has no ML surface;
this extends the repo's training-data-pipeline family (the matrix
factorization step that turns interaction logs into embedding
features).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.pyref import _als_normal_solve
from osm2geojson_spark.session import persist

__all__ = ["als_factors"]


def _solve_side(ratings: DataFrame, other_factors: DataFrame,
                group_col: str, other_col: str, d: int,
                lam: float) -> DataFrame:
    """One ALS half-step: solve every ``group_col`` entity's normal
    equations against ``other_factors`` (``other_col`` id → f array).
    ratings: (user, item, r)."""
    joined = ratings.join(other_factors, other_col)

    def solve(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = list(zip(pdf[other_col], pdf["r"],
                        [np.asarray(f, np.float64) for f in pdf["f"]]))
        x = _als_normal_solve(rows, d, lam)
        return pd.DataFrame({group_col: [key[0]],
                             "f": [[float(v) for v in x]]})

    return joined.groupBy(group_col).applyInPandas(
        solve, schema=f"{group_col} long, f array<double>")


def als_factors(ratings: DataFrame, d: int = 8, lam: float = 0.1,
                iters: int = 3) -> tuple[DataFrame, DataFrame]:
    """ALS over ``(user long, item long, r double)`` → (user_factors,
    item_factors) as (id, f array<double>) after ``iters`` (user, item)
    alternations plus a final user solve (so user factors are
    consistent with the final item factors). Each half-step is one
    join + one groupBy; loop frames are localCheckpoint-truncated."""
    r = persist(ratings.select(F.col("user").cast("long").alias("user"),
                               F.col("item").cast("long").alias("item"),
                               F.col("r").cast("double").alias("r")))
    # closed-form init, pure codegen (pyref.als_init_factor's formula)
    init = F.expr(
        f"transform(sequence(0, {d - 1}), k -> "
        "CAST((item * 2654435761 + k * 40503) % 1000 AS DOUBLE)"
        " / 1000.0 - 0.5)")
    fi = (r.select(F.col("item")).distinct()
          .select("item", init.alias("f"))
          .localCheckpoint(eager=True))
    fu = None
    for _ in range(iters):
        fu = _solve_side(r, fi, "user", "item", d, lam) \
            .localCheckpoint(eager=True)
        fi = _solve_side(r, fu, "item", "user", d, lam) \
            .localCheckpoint(eager=True)
    fu = _solve_side(r, fi, "user", "item", d, lam) \
        .localCheckpoint(eager=True)
    r.unpersist()
    return fu, fi

"""Sort-Tile-Recursive (STR) R-tree bulk packing — the spatial-index
layout op (Leutenegger et al. 1997): sort by x, cut into √P vertical
slices, sort each slice by y, pack runs of ``leaf_capacity`` into leaf
pages with tight MBRs.

GRAFT extension (no reference analog — the reference has no spatial
index; this is the layout stage a 100 TB spatial lakehouse runs before
writing bucketed/clustered files, same role as plans/iceberg_layout's
Hilbert clustering but optimizing for MBR overlap instead of range
locality).

Scale design: the classic formulation needs two GLOBAL ranks — and a
naive ``Window.orderBy`` without partition keys collapses to ONE task.
``global_rank`` is a running count through :func:`prefix_sums`, the
repo's one prefix-sum substrate: rows are bucketed by a DETERMINISTIC
monotone function of the leading sort column (integer ``div`` — a pure
value function, so there is no repartitionByRange/spark_partition_id
re-evaluation hazard), summed within buckets by an ordinary partitioned
window, and shifted by broadcast prefix-sum offsets of the bucket
totals (O(#buckets) rows). Correct because bucket(r1) < bucket(r2)
implies r1 sorts before r2; ties share a bucket by construction.
Pathological value skew (all rows in one bucket) degrades to the
single-task sort — pick ``bucket_width`` from the data's spread, same
contract as every bucketed join in this repo. The second (per-slice)
rank is an ordinary partitioned window — a slice holds
≤ capacity·⌈P/S⌉ ≈ √(n·capacity) rows, bounded per partition.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["prefix_sums", "holds_rank", "global_rank", "str_pack",
           "str_leaves"]


def prefix_sums(df: DataFrame, order_cols: list[str], sums: dict,
                bucket: Column | None = None) -> DataFrame:
    """Inclusive running sums in ascending ``order_cols`` order (a
    UNIQUE key): adds one column per ``sums`` entry, output name →
    non-null column (or column name) to sum. The exclusive sum is
    ``cum − own``.

    With ``bucket`` — a deterministic integer column MONOTONE in
    ``order_cols[0]`` (equal leading values ⇒ equal bucket), e.g.
    ``F.expr("x div 1000000")`` — each bucket sums under a partitioned
    window and adds the broadcast offsets of the bucket totals, which
    are themselves a bucket-free prefix sum over O(#buckets) rows.
    Without ``bucket`` the window is ONE task: only for frames the
    caller bounds as histogram-sized."""
    exprs = {k: F.col(v) if isinstance(v, str) else v
             for k, v in sums.items()}
    if bucket is None:
        w = (Window.orderBy(*order_cols)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return df.withColumns({k: F.sum(e).over(w)
                               for k, e in exprs.items()})
    d = df.withColumn("_b", bucket.cast("long"))
    tots = d.groupBy("_b").agg(*[F.sum(e).alias(f"_t_{k}")
                                 for k, e in exprs.items()])
    offs = prefix_sums(tots, ["_b"], {f"_o_{k}": f"_t_{k}" for k in exprs})
    offs = offs.select("_b", *[(F.col(f"_o_{k}") - F.col(f"_t_{k}"))
                               .alias(f"_o_{k}") for k in exprs])
    w = (Window.partitionBy("_b").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d.join(F.broadcast(offs), "_b")
            .withColumns({k: F.sum(e).over(w) + F.col(f"_o_{k}")
                          for k, e in exprs.items()})
            .drop("_b", *[f"_o_{k}" for k in exprs]))


def holds_rank(k, cum: str = "cum", own: str = "c") -> Column:
    """True on the one :func:`prefix_sums` row whose range
    ``(cum − own, cum]`` holds rank ``k`` — the first row whose running
    count reaches k (own counts > 0; ranks outside [1, total] match no
    row)."""
    k = F.col(k) if isinstance(k, str) else k
    return (F.col(cum) - F.col(own) < k) & (k <= F.col(cum))


def global_rank(df: DataFrame, cols: list[str], bucket: Column,
                out_col: str = "rank") -> DataFrame:
    """Exact 1-based global rank by a UNIQUE composite sort key, without
    a single-partition window: the running count of :func:`prefix_sums`
    under ``bucket`` (same monotone contract)."""
    return prefix_sums(df, cols, {out_col: F.lit(1)}, bucket)


def str_pack(df: DataFrame, n_items: int, *, id_col: str = "id",
             x_col: str = "x", y_col: str = "y",
             leaf_capacity: int = 64,
             x_bucket: Column | None = None) -> DataFrame:
    """Assign every item to an STR leaf page. ``n_items`` is the exact
    item count (callers usually know it from the scan; passing it keeps
    the op a pure plan — no hidden ``count()`` action). ``x_bucket`` is
    the monotone bucketing column for the distributed x-rank (defaults
    to ``x div 2^40`` — fine for int-lattice micro-degree coordinates).
    Returns the input columns + ``leaf_id``.

    Leaf ids are ``slice · ⌈P/S⌉ + run`` with P = ⌈n/c⌉ pages,
    S = ⌈√P⌉ slices, slice width c·⌈P/S⌉ in x-rank space — integer math
    identical in any engine, so the layout is oracle-exact."""
    c = int(leaf_capacity)
    n = int(n_items)
    if c <= 0 or n < 0:
        raise ValueError("leaf_capacity must be > 0 and n_items >= 0")
    pages = max(1, -(-n // c))
    slices = max(1, math.isqrt(pages - 1) + 1)  # ceil(sqrt(pages))
    per_slice = -(-pages // slices)             # ceil(P/S)
    slice_sz = c * per_slice

    if x_bucket is None:
        x_bucket = F.expr(f"`{x_col}` div {1 << 40}")
    ranked = global_rank(df, [x_col, id_col], x_bucket, "_rx")
    ranked = ranked.withColumn(
        "_slice", F.expr(f"(_rx - 1) div {slice_sz}"))
    wy = Window.partitionBy("_slice").orderBy(y_col, id_col)
    return (ranked
            .withColumn("_ry", F.row_number().over(wy))
            .withColumn(
                "leaf_id",
                (F.col("_slice") * F.lit(per_slice)
                 + F.expr(f"(_ry - 1) div {c}")).cast("long"))
            .drop("_rx", "_ry", "_slice"))


def str_leaves(assigned: DataFrame, *, x_col: str = "x",
               y_col: str = "y") -> DataFrame:
    """Leaf directory: per-page item count + tight MBR (the node table
    an R-tree reader consumes). One map-side-combinable aggregation."""
    return (assigned.groupBy("leaf_id")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.min(x_col).alias("x_min"),
                 F.max(x_col).alias("x_max"),
                 F.min(y_col).alias("y_min"),
                 F.max(y_col).alias("y_max")))

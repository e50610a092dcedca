"""Categorical association statistics (chi-square / Cramér's V).

The feature-screening primitive a training-data pipeline runs before
keeping a categorical column: does attribute A carry signal about
attribute B? Exact end-to-end: with O the observed cell count, r/c the
marginals and N the total, the cell's chi-square contribution
``(O − rc/N)²/(rc/N)`` is the rational ``(O·N − r·c)²/(N·r·c)``, so
``cell_ppm = (10⁶·(O·N − r·c)²) div (N·r·c)`` is pure integer
arithmetic (DECIMAL(38,0) — the square overflows int64), identical in
Spark and DuckDB. ZERO cells are included (a missing combination still
contributes (r·c)²·10⁶/(N·r·c) — dropping them understates the
statistic), via a tiny distinct×distinct cross join.

Scale shape: ONE data-sized shuffle (the groupBy(a,b) count); marginals
are aggregates OVER THE COUNTS (cells ≤ |A|·|B|, metadata-sized) and
re-attach by broadcast. Cramér's V² in ppb derives per-table:
``v2_ppb = (10³·chi2_ppm) div (N·(min(|A|,|B|)−1))``.

The rank statistics below walk DISTINCT-VALUE histograms, never rows:
every running sum is ``spatial/strpack.prefix_sums``, 2× midranks are
:func:`_midrank2`, and "the histogram row holding rank k" is
``strpack.holds_rank``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist
from osm2geojson_spark.spatial.strpack import holds_rank, prefix_sums

__all__ = ["contingency_chi2", "cramers_v2_ppb", "otsu_curve",
           "otsu_threshold", "exact_quantiles", "ks_2samp",
           "mann_whitney_u", "iqr_outliers", "spearman_rho",
           "two_prop_ztest", "welch_ttest", "psi_buckets",
           "kendall_tau", "mann_kendall", "kruskal_wallis",
           "randomization_test", "gini_coefficient", "lorenz_curve",
           "median_mad", "runs_test", "weighted_median", "group_mode", "trimmed_mean"]

_D = "CAST({} AS DECIMAL(38,0))"


def _midrank2(cum: str, c: str):
    """2× the tie-averaged midrank of a histogram row: a tie group of
    ``c`` rows ending at running count ``cum`` has midrank
    ``cum − (c − 1)/2``, so ``2·cum − c + 1`` is an integer."""
    return F.lit(2) * F.col(cum) - F.col(c) + F.lit(1)


def contingency_chi2(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Per-cell exact chi-square contributions for the contingency
    table of two categorical columns. Returns (a, b, o, r, c, n,
    cell_ppm) for EVERY observed-category pair, including zero
    cells."""
    pair = df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
    counts = pair.groupBy("a", "b").agg(F.count("*").alias("o"))
    grid = (counts.select("a").distinct()
            .crossJoin(counts.select("b").distinct()))
    full = (grid.join(counts, ["a", "b"], "left")
            .select("a", "b", F.coalesce("o", F.lit(0)).alias("o")))
    rt = full.groupBy("a").agg(F.sum("o").alias("r"))
    ct = full.groupBy("b").agg(F.sum("o").alias("c"))
    nt = full.agg(F.sum("o").alias("n"))
    cell = (full
            .join(F.broadcast(rt), "a")
            .join(F.broadcast(ct), "b")
            .crossJoin(F.broadcast(nt)))
    dev = f"({_D.format('o')} * n - {_D.format('r')} * c)"
    return cell.select(
        "a", "b", "o", "r", "c", "n",
        F.expr(f"CAST(({_D.format('1000000')} * {dev} * {dev})"
               f" div ({_D.format('n')} * r * c) AS BIGINT)")
        .alias("cell_ppm"))


def cramers_v2_ppb(cells: DataFrame) -> DataFrame:
    """Collapse :func:`contingency_chi2` output to one row:
    (n, n_a, n_b, chi2_ppm, v2_ppb) with
    V² = chi2 / (N·(min(|A|,|B|)−1)) in exact ppb."""
    agg = cells.agg(
        F.max("n").alias("n"),
        F.countDistinct("a").alias("n_a"),
        F.countDistinct("b").alias("n_b"),
        F.sum("cell_ppm").alias("chi2_ppm"))
    return agg.select(
        "n", "n_a", "n_b", "chi2_ppm",
        F.expr(f"CAST(({_D.format('1000')} * chi2_ppm)"
               f" div ({_D.format('n')} * (least(n_a, n_b) - 1))"
               " AS BIGINT)").alias("v2_ppb"))


def otsu_curve(df: DataFrame, value_col: str) -> DataFrame:
    """Otsu's between-class variance curve over an integer-valued
    column — the global-threshold primitive for image binarization
    (blob_stats' fixed luma_threshold, made data-driven). For every
    candidate threshold t (each distinct value), the EXACT rational
    between-class variance σ²_B(t) = num/den with

        num = (s0·N − S·n0)²      den = n0·(N − n0)

    (n0, s0 = count/sum at values ≤ t; N, S = totals). No floats:
    pick argmax by cross-multiplying num·den' vs num'·den downstream
    (Python ints — the curve is ≤ |distinct values| rows, O(1)
    driver). Scale shape: ONE groupBy on the value (the histogram —
    the only data-sized pass), then window algebra over the tiny
    histogram itself; the global window is one task over ≤ 2^16 rows
    for any real bit depth. int64 bound: requires S·N < 3·10⁹ — i.e.
    Σv · pixel-count products beyond that need the curve computed on
    a SAMPLED histogram or per-partition rasters."""
    v = F.col(value_col).cast("long")
    h = df.groupBy(v.alias("t")).agg(F.count("*").alias("c"))
    tot = h.agg(F.sum("c").alias("n_tot"),
                F.sum(F.col("t") * F.col("c")).alias("s_tot"))
    cum = prefix_sums(h.crossJoin(F.broadcast(tot)), ["t"],
                      {"n0": "c", "s0": F.col("t") * F.col("c")})
    d = (F.col("s0") * F.col("n_tot") - F.col("s_tot") * F.col("n0"))
    return cum.select(
        "t",
        (d * d).alias("num"),
        (F.col("n0") * (F.col("n_tot") - F.col("n0"))).alias("den"))


def otsu_threshold(df: DataFrame, value_col: str) -> int:
    """The argmax of :func:`otsu_curve` — exact fraction comparison
    with Python bignums over the collected (tiny) curve; smallest t
    wins ties (deterministic)."""
    rows = sorted((r["t"], r["num"], r["den"])
                  for r in otsu_curve(df, value_col).collect())
    best_t, best_num, best_den = None, -1, 1
    for t, num, den in rows:
        if den == 0:
            continue
        if num * best_den > best_num * den:
            best_t, best_num, best_den = t, num, den
    if best_t is None:
        raise ValueError("otsu_threshold needs >= 2 distinct values")
    return int(best_t)


def exact_quantiles(df: DataFrame, value_col: str,
                    p_ppms: list[int],
                    bucket_expr: str | None = None,
                    max_buckets: int = 1_000_000) -> DataFrame:
    """EXACT order statistics without a global sort — the scalable
    counterpart to approx_percentile when the answer must be a real
    data value: rank k = ceil(p·n) (integer ppm ceil) is located by
    a VALUE-bucket histogram (one groupBy; bucket key = floor(v) by
    default — any monotone int expression works), the cumulative
    walk runs over the SMALL histogram (one window task over
    |distinct buckets| rows), and only the one bucket containing
    each rank is sorted (collect_list over bucket-sized groups).
    Values pass through untouched (doubles stay bit-identical).
    Returns ``(p_ppm, k, value)``.

    The histogram-walk bound is SELF-ENFORCING: the single aggregate
    that counts n also counts distinct buckets at a ladder of
    right-shift coarsenings (``b div 2^s`` — truncating div is
    monotone, so a coarsened bucket is still a valid bucket; ties
    just share one), and the smallest shift whose bucket count fits
    ``max_buckets`` is applied automatically. ``div 2^56`` leaves at
    most 256 int64 buckets, so the ladder always terminates — a
    pathological value spread degrades to bigger in-bucket sorts,
    never to a data-sized single-task window."""
    if not p_ppms:
        raise ValueError("p_ppms must be non-empty")
    if any(not 0 < p <= 1_000_000 for p in p_ppms):
        raise ValueError("p_ppms must be in (0, 1e6]")
    if max_buckets < 1:
        raise ValueError("max_buckets must be >= 1")
    b_expr = bucket_expr or f"CAST(floor(`{value_col}`) AS BIGINT)"
    src = df.select(F.col(value_col).alias("v"),
                    F.expr(b_expr).alias("b"))
    shifts = [0, 8, 16, 24, 32, 40, 48, 56]
    stat = src.agg(
        F.count("*").alias("n"),
        *[F.countDistinct(F.expr(f"b div {1 << s}")).alias(f"d{s}")
          for s in shifts]).collect()[0]
    n = stat["n"]
    if n == 0:
        raise ValueError("exact_quantiles needs a non-empty input")
    # d56 <= 256 always, so the default 1M cap always resolves; a
    # caller-set cap below 256 gets the coarsest ladder rung (best
    # effort — still bounded by 256 buckets)
    shift = next((s for s in shifts if stat[f"d{s}"] <= max_buckets), 56)
    if shift:
        src = src.withColumn("b", F.expr(f"b div {1 << shift}"))
    ks = [(int(p), (int(p) * n + 999_999) // 1_000_000)
          for p in sorted(set(p_ppms))]
    spark = df.sparkSession
    kdf = spark.createDataFrame(ks, "p_ppm long, k long")

    hist = src.groupBy("b").agg(F.count("*").alias("c"))
    cum = prefix_sums(hist, ["b"], {"cum": "c"})
    # the one bucket holding each rank; offset inside the bucket
    hit = (cum.join(F.broadcast(kdf), holds_rank("k"))
           .select("p_ppm", "k", "b",
                   (F.col("k") - F.col("cum") + F.col("c")).alias("off")))
    vals = (src.join(F.broadcast(hit.select("b").distinct()), "b")
            .groupBy("b")
            .agg(F.sort_array(F.collect_list("v")).alias("vs")))
    return (hit.join(vals, "b")
            .select("p_ppm", "k",
                    F.element_at("vs", F.col("off").cast("int"))
                    .alias("value")))


def ks_2samp(df: DataFrame, value_col: str, group_col: str,
             g1, g2) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic as ONE row
    ``(n1, n2, d_num, d)`` — EXACT: the sup over the pooled empirical
    CDF difference is ``max |c1·n2 − c2·n1|`` over distinct values
    (c_i = cumulative counts), an integer, and ``d = d_num/(n1·n2)``
    is one double division written identically in the SQL twin.

    The distribution-drift gate a training-data pipeline runs between
    two corpus slices before mixing them. Shape: one groupBy(value)
    histogram shuffle; the cumulative walk rides an unpartitioned
    window over the DISTINCT-VALUE histogram (the otsu_curve /
    exact_quantiles bound — histogram-sized, never row-sized)."""
    src = df.select(
        F.col(value_col).alias("v"),
        F.when(F.col(group_col) == g1, 1)
         .when(F.col(group_col) == g2, 2).alias("g"),
    ).where(F.col("g").isNotNull())
    counts = src.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("c2"))
    cum = prefix_sums(counts, ["v"], {"f1": "c1", "f2": "c2"})
    tot = counts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
             F.max(F.abs(F.col("f1") * F.col("n2")
                         - F.col("f2") * F.col("n1"))).alias("d_num"))
        .select("n1", "n2", "d_num",
                F.expr("CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE)"
                       " * CAST(n2 AS DOUBLE))").alias("d")))


def mann_whitney_u(df: DataFrame, value_col: str, group_col: str,
                   g1, g2) -> DataFrame:
    """Two-sample Mann–Whitney U as ONE row
    ``(n1, n2, r1_x2, u1_x2, u2_x2)`` — EXACT with the standard
    tie-averaged midranks, kept integer by carrying 2× the rank: a tie
    group of size t after s smaller items has midrank ``s + (t+1)/2``,
    so ``2·midrank = 2s + t + 1`` is an integer for every group.
    ``u1_x2 = 2·R1 − n1(n1+1)`` (twice the usual U for sample 1);
    callers divide by 2 at the end if they want the textbook value —
    halving first would leave engine-dependent .5 doubles.

    Same shape as :func:`ks_2samp`: one value-histogram shuffle + the
    histogram-sized cumulative walk."""
    src = df.select(
        F.col(value_col).alias("v"),
        F.when(F.col(group_col) == g1, 1)
         .when(F.col(group_col) == g2, 2).alias("g"),
    ).where(F.col("g").isNotNull())
    counts = src.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("c2"))
    walk = prefix_sums(
        counts.withColumn("c", F.col("c1") + F.col("c2")), ["v"],
        {"cum": "c"})
    agg = walk.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * _midrank2("cum", "c")).alias("r1_x2"))
    return agg.select(
        "n1", "n2", "r1_x2",
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
        (F.lit(2) * F.col("n1") * F.col("n2")
         - (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)))
        .alias("u2_x2"))


def iqr_outliers(df: DataFrame, value_col: str,
                 fence_x4: int = 6) -> DataFrame:
    """Tukey-fence outlier flagging composed on the
    :func:`exact_quantiles` substrate: q1/q3 are EXACT order statistics
    (real data values), the fences ``q1 − (fence_x4/4)·iqr`` /
    ``q3 + (fence_x4/4)·iqr`` keep the conventional 1.5 multiplier as
    the integer ratio 6/4 (doubles computed identically in the SQL
    twin), and the 2-row quantile frame pivots to one row and
    broadcast-joins back onto the stream — no second pass, no driver
    row data. Returns the input rows OUTSIDE the fences, with the
    fences attached."""
    q = exact_quantiles(df, value_col, [250_000, 750_000])
    fences = (
        q.agg(
            F.max(F.when(F.col("p_ppm") == 250_000, F.col("value")))
            .alias("q1"),
            F.max(F.when(F.col("p_ppm") == 750_000, F.col("value")))
            .alias("q3"))
        .select(
            "q1", "q3",
            F.expr(f"q1 - ({fence_x4} * (q3 - q1)) / 4.0").alias("lo"),
            F.expr(f"q3 + ({fence_x4} * (q3 - q1)) / 4.0").alias("hi")))
    return (df.crossJoin(F.broadcast(fences))
            .where((F.col(value_col) < F.col("lo"))
                   | (F.col(value_col) > F.col("hi"))))


def spearman_rho(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation as ONE row
    ``(n, sx, sxx, syy, sxy, rho)`` — EXACT moments: tie-averaged
    midranks are kept integer by carrying 2× the rank (the
    mann_whitney_u discipline: a tie group of size t after s smaller
    items has 2·midrank = 2s + t + 1), so every power sum is an exact
    DECIMAL(38,0) accumulation and only the final Pearson-on-ranks
    ``rho`` is a double (sqrt is IEEE correctly-rounded in both
    engines). ``sx`` is shared by x and y (midrank sums are both
    n(n+1)), so one copy is kept.

    Ranks are DISTRIBUTED: the per-value cumulative count rides an
    unpartitioned window over the DISTINCT-VALUE histogram (the
    ks_2samp / exact_quantiles bound — histogram-sized, never
    row-sized) and joins back onto the rows; no global row sort
    anywhere. Degenerate inputs (a constant column) return NULL rho
    with the moments intact."""
    src = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y")) \
            .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    def ranks(col):
        h = src.groupBy(col).agg(F.count("*").alias("c"))
        return prefix_sums(h, [col], {"cum": "c"}).select(
            col, _midrank2("cum", "c").alias(f"r{col}"))

    ranked = (src.join(ranks("x"), "x").join(ranks("y"), "y"))
    d = "CAST({} AS DECIMAL(38,0))"
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.expr(f"CAST(SUM({d.format('rx')}) AS BIGINT)").alias("sx"),
        F.expr(f"CAST(SUM({d.format('rx')} * rx) AS BIGINT)").alias("sxx"),
        F.expr(f"CAST(SUM({d.format('ry')} * ry) AS BIGINT)").alias("syy"),
        F.expr(f"CAST(SUM({d.format('rx')} * ry) AS BIGINT)").alias("sxy"))
    rho = ("CASE WHEN ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))"
           " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) = 0.0E0"
           " OR ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE))"
           " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) = 0.0E0"
           " THEN NULL ELSE"
           " ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))"
           " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
           " / sqrt(((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))"
           " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
           " * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE))"
           " - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))) END")
    return agg.select("n", "sx", "sxx", "syy", "sxy",
                      F.expr(rho).alias("rho"))


def two_prop_ztest(df: DataFrame, group_col: str, g1, g2,
                   success_col: str) -> DataFrame:
    """Two-proportion z-test as ONE row ``(n1, x1, n2, x2, z)`` — the
    A/B-experiment gate. Counts are exact integers from one aggregate
    pass; ``z`` is the single pooled-variance double expression
    (sqrt correctly rounded), NULL when either arm is empty or the
    pooled proportion is degenerate (0 or 1 → zero variance).
    ``success_col`` is any boolean column/expression name."""
    src = df.select(
        F.when(F.col(group_col) == g1, 1)
         .when(F.col(group_col) == g2, 2).alias("g"),
        F.col(success_col).cast("boolean").alias("s"),
    ).where(F.col("g").isNotNull())
    agg = src.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when((F.col("g") == 1) & F.col("s"), 1).otherwise(0))
        .alias("x1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when((F.col("g") == 2) & F.col("s"), 1).otherwise(0))
        .alias("x2"))
    z = ("CASE WHEN (n1 = 0) OR (n2 = 0) OR ((x1 + x2) = 0)"
         " OR ((x1 + x2) = (n1 + n2)) THEN NULL ELSE"
         " ((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
         " - (CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
         " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
         " * (1.0E0 - (CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)))"
         " * ((1.0E0 / CAST(n1 AS DOUBLE)) + (1.0E0 / CAST(n2 AS DOUBLE))))"
         " END")
    return agg.select("n1", "x1", "n2", "x2", F.expr(z).alias("z"))


def welch_ttest(df: DataFrame, value_col: str, group_col: str,
                g1, g2) -> DataFrame:
    """Welch's unequal-variance t-test as ONE row
    ``(n1, n2, s1, s2, ss1, ss2, t, dof)`` — the mean-shift gate
    between two metric slices. Sums and sums-of-squares go through
    DECIMAL (exact, order-free — the anomaly-zscore discipline), are
    cast to double ONCE for output, and ``t`` / Welch–Satterthwaite
    ``dof`` are single double expressions over those columns (written
    identically in the SQL twin). NULL t/dof when either arm has < 2
    rows or both variances vanish."""
    src = df.select(
        F.when(F.col(group_col) == g1, 1)
         .when(F.col(group_col) == g2, 2).alias("g"),
        F.col(value_col).alias("v"),
    ).where(F.col("g").isNotNull() & F.col("v").isNotNull())
    agg = src.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("n2"),
        F.expr("CAST(SUM(CASE WHEN g = 1 THEN CAST(v AS DECIMAL(28,6))"
               " END) AS DOUBLE)").alias("s1"),
        F.expr("CAST(SUM(CASE WHEN g = 2 THEN CAST(v AS DECIMAL(28,6))"
               " END) AS DOUBLE)").alias("s2"),
        F.expr("CAST(SUM(CASE WHEN g = 1 THEN CAST((v * v) AS"
               " DECIMAL(38,4)) END) AS DOUBLE)").alias("ss1"),
        F.expr("CAST(SUM(CASE WHEN g = 2 THEN CAST((v * v) AS"
               " DECIMAL(38,4)) END) AS DOUBLE)").alias("ss2"))
    v1 = ("((ss1 - ((s1 * s1) / CAST(n1 AS DOUBLE)))"
          " / CAST(n1 - 1 AS DOUBLE))")
    v2 = ("((ss2 - ((s2 * s2) / CAST(n2 AS DOUBLE)))"
          " / CAST(n2 - 1 AS DOUBLE))")
    se2 = f"(({v1} / CAST(n1 AS DOUBLE)) + ({v2} / CAST(n2 AS DOUBLE)))"
    t = (f"CASE WHEN (n1 < 2) OR (n2 < 2) OR ({se2} <= 0.0E0) THEN NULL"
         f" ELSE ((s1 / CAST(n1 AS DOUBLE)) - (s2 / CAST(n2 AS DOUBLE)))"
         f" / sqrt({se2}) END")
    dof = (f"CASE WHEN (n1 < 2) OR (n2 < 2) OR ({se2} <= 0.0E0) THEN NULL"
           f" ELSE ({se2} * {se2})"
           f" / ((({v1} / CAST(n1 AS DOUBLE)) * ({v1} / CAST(n1 AS DOUBLE))"
           f" / CAST(n1 - 1 AS DOUBLE))"
           f" + (({v2} / CAST(n2 AS DOUBLE)) * ({v2} / CAST(n2 AS DOUBLE))"
           f" / CAST(n2 - 1 AS DOUBLE))) END")
    return agg.select("n1", "n2", "s1", "s2", "ss1", "ss2",
                      F.expr(t).alias("t"), F.expr(dof).alias("dof"))


def psi_buckets(df: DataFrame, value_col: str, group_col: str, g1, g2,
                bucket_width) -> DataFrame:
    """Population-drift histogram between two slices → one row per
    value bucket: ``(bucket, n1, n2, p1_ppm, p2_ppm)`` with the
    per-slice mass in exact integer ppm (``n·10⁶ div N``) — the input
    to a PSI / KL drift score, kept integer-only so the table is
    bit-stable across engines (ln mixes libm implementations; the
    caller applies it to the ppm columns downstream). ZERO-count
    buckets on either side are included (a vanished bucket is exactly
    the signal PSI exists to catch). One groupBy(bucket) shuffle;
    totals re-attach by broadcast."""
    src = df.select(
        F.when(F.col(group_col) == g1, 1)
         .when(F.col(group_col) == g2, 2).alias("g"),
        F.expr(f"CAST(floor({value_col} / {bucket_width}) AS BIGINT)")
        .alias("bucket"),
    ).where(F.col("g").isNotNull())
    counts = src.groupBy("bucket").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("n2"))
    tot = counts.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    return (counts.crossJoin(F.broadcast(tot))
            .select("bucket", "n1", "n2",
                    F.expr("(n1 * 1000000) div t1").alias("p1_ppm"),
                    F.expr("(n2 * 1000000) div t2").alias("p2_ppm")))


def _dominance_cells(x, y, c) -> int:
    """Exact weighted strict 2-D dominance count over distinct cells:
    Σ c_i·c_j over unordered pairs with x_i < x_j AND y_i < y_j.

    Vectorized per distinct-x wave: cells arrive lexsorted by (x, y);
    each wave queries the cumulative stripe-local y-rank histogram of
    everything STRICTLY before it (prefix at rank index → count of
    smaller y), then scatters its own counts in. O(g·Y + m) for g
    distinct x and Y distinct y in the stripe — no Python-per-pair
    work. The running total is a Python int (unbounded); per-wave dot
    products stay in int64 (documented bound: stripe rows < ~3·10⁹)."""
    import numpy as np

    if len(x) == 0:
        return 0
    order = np.lexsort((y, x))
    xs, ys, cs = x[order], y[order], c[order].astype(np.int64)
    yvals, yr = np.unique(ys, return_inverse=True)
    hist = np.zeros(len(yvals) + 1, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, xs[1:] != xs[:-1]])
    ends = np.r_[starts[1:], len(xs)]
    total = 0
    for s, e in zip(starts, ends):
        if s:
            pref = np.cumsum(hist)  # pref[k] = seen cells with yrank < k
            total += int(np.dot(cs[s:e], pref[yr[s:e]]))
        np.add.at(hist, yr[s:e] + 1, cs[s:e])
    return total


def kendall_tau(df: DataFrame, x_col: str, y_col: str, *,
                blocks: int = 32) -> DataFrame:
    """Kendall tau-b as ONE row ``(n, p, q, tx_only, ty_only, txy,
    tau_b)`` — EXACT integer pair counts (concordant / discordant /
    tied-x-only / tied-y-only / tied-both) with NO all-pairs join.

    Decomposition (inclusion–exclusion over equidepth value blocks):
    rows map to ``blocks`` x-blocks and y-blocks (monotone equidepth
    over the DISTINCT-value histograms — the spearman/ks window bound,
    histogram-sized, never row-sized). A concordant pair lives in
    exactly one of
      * different x-block AND different y-block → both strict by
        construction: Σ m_a·m_b over block pairs with ax<bx, ay<by —
        a k²-row broadcast self-join over the block-count matrix;
      * same x-block → exact dominance inside the x-stripe;
      * same y-block → exact dominance inside the y-stripe;
    with same-x-AND-same-y-block pairs counted by both stripe passes
    once each, so  P = P_blocks + D_bx + D_by − D_bxby  (the third
    stripe pass over (x-block, y-block) groups subtracts the overlap).
    Q and the tie splits then follow algebraically from exact groupBy
    tie counts: q = n0 − p − tx − ty + b. Only ``tau_b`` is a double
    (one expression, sqrt correctly rounded).

    Scale shape: one cells groupBy shuffle (distinct (x,y) histogram),
    three applyInPandas stripe passes over bounded stripes (~cells/k),
    all scalars crossJoin-broadcast. Columns must be integer-typed
    (exactness contract; cast upstream)."""
    import pandas as pd

    src = (df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
             .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()))
    cells = src.groupBy("x", "y").agg(F.count("*").alias("c"))

    def bmap(col: str, alias: str) -> DataFrame:
        h = cells.select(col).distinct()
        nd = h.agg(F.count("*").alias("nd"))
        return (prefix_sums(h, [col], {"rn": F.lit(1)})
                .crossJoin(F.broadcast(nd))
                .select(col, F.expr(f"((rn - 1) * {int(blocks)}) div nd")
                        .alias(alias)))

    labeled = persist(cells.join(bmap("x", "xb"), "x")
                           .join(bmap("y", "yb"), "y"))

    m = labeled.groupBy("xb", "yb").agg(F.sum("c").alias("m"))
    a = m.select(F.col("xb").alias("ax"), F.col("yb").alias("ay"),
                 F.col("m").alias("am"))
    p_blocks = (a.join(F.broadcast(m),
                       (F.col("ax") < F.col("xb"))
                       & (F.col("ay") < F.col("yb")))
                .agg(F.coalesce(
                    F.expr("CAST(SUM(CAST(am AS DECIMAL(19,0)) * m)"
                           " AS BIGINT)"), F.lit(0).cast("long"))
                    .alias("p_blocks")))

    def _dom_pdf(pdf: "pd.DataFrame") -> "pd.DataFrame":
        d = _dominance_cells(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                             pdf["c"].to_numpy())
        return pd.DataFrame({"d": [d]})

    def stripe(keys) -> DataFrame:
        part = labeled.select("x", "y", "c", *keys).groupBy(*keys)
        return (part.applyInPandas(_dom_pdf, "d long")
                .agg(F.coalesce(F.sum("d"), F.lit(0).cast("long"))
                     .alias("d")))

    d_bx = stripe(["xb"]).withColumnRenamed("d", "d_bx")
    d_by = stripe(["yb"]).withColumnRenamed("d", "d_by")
    d_bxby = stripe(["xb", "yb"]).withColumnRenamed("d", "d_bxby")

    ties = labeled.agg(
        F.sum("c").cast("long").alias("n"),
        F.expr("CAST(SUM((c * (c - 1)) div 2) AS BIGINT)").alias("b"))
    tx = (labeled.groupBy("x").agg(F.sum("c").alias("g"))
          .agg(F.expr("CAST(SUM((g * (g - 1)) div 2) AS BIGINT)")
               .alias("tx")))
    ty = (labeled.groupBy("y").agg(F.sum("c").alias("g"))
          .agg(F.expr("CAST(SUM((g * (g - 1)) div 2) AS BIGINT)")
               .alias("ty")))

    row = (ties.crossJoin(tx).crossJoin(ty).crossJoin(p_blocks)
           .crossJoin(d_bx).crossJoin(d_by).crossJoin(d_bxby)
           .select("n", "tx", "ty", "b",
                   F.expr("(n * (n - 1)) div 2").alias("n0"),
                   F.expr("p_blocks + d_bx + d_by - d_bxby").alias("p")))
    tau = ("CASE WHEN ((n0 - tx) = 0) OR ((n0 - ty) = 0) THEN NULL ELSE"
           " (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))"
           " / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))"
           " END")
    out = (row.withColumn("q", F.expr("n0 - p - tx - ty + b"))
           .select("n", "p", "q",
                   F.expr("tx - b").alias("tx_only"),
                   F.expr("ty - b").alias("ty_only"),
                   F.col("b").alias("txy"),
                   F.expr(tau).alias("tau_b")))
    return out


def mann_kendall(df: DataFrame, time_col: str, value_col: str, *,
                 blocks: int = 32) -> DataFrame:
    """Mann–Kendall trend test as ONE row ``(n, s, var18, z)`` — the
    monotone-trend gate over a time series. ``s = P − Q`` rides the
    exact kendall_tau pair counts with x = time; duplicate timestamps
    are collapsed first (min value per instant — the standard
    unique-times MK precondition, and what makes the classic
    value-ties-only variance formula exact): ``var18 = n(n−1)(2n+5) −
    Σ_g g(g−1)(2g+5)`` over value tie groups (18× the variance, kept
    integer). ``z`` applies the ±1 continuity correction in one double
    expression. Same scale shape as kendall_tau."""
    series = (df.where(F.col(time_col).isNotNull()
                       & F.col(value_col).isNotNull())
              .groupBy(F.col(time_col).alias("t"))
              .agg(F.min(value_col).alias("v")))
    kt = kendall_tau(series, "t", "v", blocks=blocks)
    ties = (series.groupBy("v").agg(F.count("*").alias("g"))
            .agg(F.coalesce(
                F.expr("CAST(SUM(g * (g - 1) * (2 * g + 5)) AS BIGINT)"),
                F.lit(0).cast("long")).alias("tie18")))
    z = ("CASE WHEN var18 <= 0 THEN NULL"
         " WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0E0)"
         " / sqrt(CAST(var18 AS DOUBLE) / 18.0E0)"
         " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0E0)"
         " / sqrt(CAST(var18 AS DOUBLE) / 18.0E0)"
         " ELSE 0.0E0 END")
    out = (kt.crossJoin(ties)
           .select("n", F.expr("p - q").alias("s"),
                   F.expr("(n * (n - 1)) * (2 * n + 5) - tie18")
                   .alias("var18"))
           .select("n", "s", "var18", F.expr(z).alias("z")))
    return out


def kruskal_wallis(df: DataFrame, value_col: str,
                   group_col: str) -> DataFrame:
    """Kruskal–Wallis k-sample rank test as ONE row
    ``(n, k, tie3, sum_t, h, h_adj)`` — the nonparametric ANOVA gate.

    2× midranks (:func:`_midrank2`) from the DISTINCT-VALUE histogram
    prefix sum (histogram-sized bound),
    per-group rank sums ``s2r`` as exact integers. The rank-sum-square
    term ``sum_t = Σ s2r²/(4·n_g)`` is irreducibly rational, so it is
    an ORDERED double fold over the group-sorted stats (the IDW
    discipline: ``F.aggregate`` == DuckDB ``list_reduce`` — groups are
    metadata-sized). ``h = 12·sum_t/(n(n+1)) − 3(n+1)``; ``h_adj``
    divides by the tie correction ``1 − tie3/(n³−n)`` (``tie3 =
    Σ t³−t`` exact int; NULL when every value ties). All doubles are
    single fixed-order expressions."""
    src = (df.select(F.col(group_col).alias("g"),
                     F.col(value_col).alias("v"))
           .where(F.col(group_col).isNotNull()
                  & F.col(value_col).isNotNull()))
    hist = src.groupBy("v").agg(F.count("*").alias("cnt"))
    ranks = prefix_sums(hist, ["v"], {"cum": "cnt"}).select(
        "v", _midrank2("cum", "cnt").alias("r2"))
    grp = (src.join(ranks, "v")
           .groupBy("g")
           .agg(F.count("*").alias("n_g"), F.sum("r2").alias("s2r")))
    folded = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(g, s2r, n_g))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc"
            " + ((CAST(x.s2r AS DOUBLE) * CAST(x.s2r AS DOUBLE))"
            " / (4.0E0 * CAST(x.n_g AS DOUBLE))))").alias("sum_t"))
    ties = hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum(F.expr("(cnt * cnt * cnt) - cnt")),
                   F.lit(0)).cast("long").alias("tie3"))
    hh = ("((12.0E0 * sum_t)"
          " / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))"
          " - (3.0E0 * CAST(n + 1 AS DOUBLE))")
    n3 = ("((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
          " - CAST(n AS DOUBLE))")
    h_adj = (f"CASE WHEN (n < 2) OR (CAST(tie3 AS DOUBLE) = {n3})"
             f" THEN NULL ELSE ({hh})"
             f" / (1.0E0 - (CAST(tie3 AS DOUBLE) / {n3})) END")
    return (ties.crossJoin(folded)
            .select("n", "k", "tie3", "sum_t",
                    F.expr(hh).alias("h"),
                    F.expr(h_adj).alias("h_adj")))


def randomization_test(df: DataFrame, group_col: str, g1, g2,
                       value_col: str, id_col: str,
                       k: int = 199) -> DataFrame:
    """Deterministic randomization test for a two-group mean difference
    → ONE row ``(n, n_a, n_b, d0, k_total, k_valid, k_ge, p)``.

    The permutation-test shape with hash randomness instead of an RNG:
    replicate ``k`` assignments where row i joins pseudo-group A iff
    ``pmod(xxhash64(id, rep), n) < n_a`` — deterministic, partition-
    order-free, and replayable bit-exactly by the pure-Python XXH64
    twin (the bloom/CMS parity discipline; the rep index rides the
    exploded ``sequence`` as IntegerType — the 4-byte form). Mean
    differences never become floats: ``d = n_b·S_a − n_a·S_b`` and
    replicates compare by cross-multiplication
    ``|d_k|·(n_a·n_b) ≥ |d0|·(n_a_k·n_b_k)`` — exact int64 (bound:
    |values|·n² < 2⁶³). Replicates with an empty pseudo-group don't
    count (``k_valid``). ``p = (k_ge + 1)/(k_valid + 1)`` is the
    standard add-one estimate, the only double.

    Scale shape: ONE data pass for the observed row, one ×k explode
    with map-side-combinable per-rep aggregation (the k-table is
    metadata-sized), broadcast joins only."""
    src = (df.select(
        F.when(F.col(group_col) == g1, 1)
         .when(F.col(group_col) == g2, 2).alias("g"),
        F.col(value_col).cast("long").alias("v"),
        F.col(id_col).cast("long").alias("rid"))
        .where(F.col("g").isNotNull() & F.col("v").isNotNull()))
    obs = src.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("g") == 1, F.col("v")).otherwise(0))
        .alias("s_a"),
        F.sum(F.when(F.col("g") == 2, F.col("v")).otherwise(0))
        .alias("s_b"))
    obs = obs.select(
        "n", "n_a", F.expr("n - n_a").alias("n_b"),
        F.expr("((n - n_a) * s_a) - (n_a * s_b)").alias("d0"))
    reps = (src.select(
        "v", "rid",
        F.explode(F.expr(f"sequence(1, {int(k)})")).alias("rep"))
        .crossJoin(F.broadcast(obs.select("n", "n_a")))
        .select("rep", "v",
                F.expr("pmod(xxhash64(rid, rep), n) < n_a")
                .alias("in_a"))
        .groupBy("rep")
        .agg(F.count("*").alias("nk"),
             F.sum(F.expr("CASE WHEN in_a THEN 1 ELSE 0 END"))
             .alias("nak"),
             F.sum(F.expr("CASE WHEN in_a THEN v ELSE 0 END"))
             .alias("sak"),
             F.sum(F.expr("CASE WHEN in_a THEN 0 ELSE v END"))
             .alias("sbk")))
    scored = (reps.crossJoin(F.broadcast(obs))
              .where("(nak > 0) AND (nak < nk)")
              .select(
                  F.expr("abs(((nk - nak) * sak) - (nak * sbk))"
                         " * (n_a * n_b)").alias("lhs"),
                  F.expr("abs(d0) * (nak * (nk - nak))").alias("rhs")))
    tally = scored.agg(
        F.count("*").alias("k_valid"),
        F.sum(F.expr("CASE WHEN lhs >= rhs THEN 1 ELSE 0 END"))
        .cast("long").alias("k_ge"))
    return (obs.crossJoin(F.broadcast(tally))
            .select("n", "n_a", "n_b", "d0",
                    F.lit(int(k)).cast("long").alias("k_total"),
                    "k_valid", "k_ge",
                    F.expr("CAST(k_ge + 1 AS DOUBLE)"
                           " / CAST(k_valid + 1 AS DOUBLE)").alias("p")))


def gini_coefficient(df: DataFrame, value_col: str,
                     group_col: str | None = None) -> DataFrame:
    """Gini concentration coefficient per group (or one global row) →
    ``(group?, n, s, a, gini)`` — the inequality screen for spend /
    token-count / degree distributions.

    EXACT rank-sum form without a global sort: with values sorted and
    1-based ranks i, ``G = 2·Σ i·xᵢ / (n·S) − (n+1)/n``; ties make
    Σ i·xᵢ order-invariant, and the distinct-value histogram gives it
    exactly as ``A = Σ_v v·c·(2s + c + 1)`` (s = cumulative count of
    smaller values — one histogram-sized prefix sum; ``2s + c + 1`` is
    :func:`_midrank2`). ``gini = (A − (n+1)·S) / (n·S)`` is the single
    guarded double. Requires non-negative values (raise upstream); NULL gini
    when S = 0. int64 bound: v·n² < 2⁶³."""
    src = (df.select(*([F.col(group_col).alias("g")] if group_col
                       else []),
                     F.col(value_col).cast("long").alias("v"))
           .where(F.col(value_col).isNotNull()))
    gk = ["g"] if group_col else []
    hist = src.groupBy(*gk, "v").agg(F.count("*").alias("c"))
    if group_col:
        w = (Window.partitionBy("g").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = hist.withColumn("cum", F.sum("c").over(w))
    else:
        cum = prefix_sums(hist, ["v"], {"cum": "c"})
    agg = (cum.groupBy(*gk)
           .agg(F.sum("c").cast("long").alias("n"),
                F.sum(F.expr("v * c")).cast("long").alias("s"),
                F.sum(F.expr("v * c") * _midrank2("cum", "c"))
                .cast("long").alias("a")))
    gini = ("CASE WHEN (s = 0) OR (n = 0) THEN NULL ELSE"
            " (CAST(a AS DOUBLE) - (CAST(n + 1 AS DOUBLE)"
            " * CAST(s AS DOUBLE)))"
            " / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) END")
    return agg.select(*gk, "n", "s", "a", F.expr(gini).alias("gini"))


def lorenz_curve(df: DataFrame, value_col: str,
                 pcts: list | None = None) -> DataFrame:
    """Lorenz curve points → ``(p_pct, k, cum_v, n, s, pop_share,
    value_share)`` — the concentration curve behind
    :func:`gini_coefficient` (what share of total value the bottom p%
    holds). EXACT: rank ``k = ceil(p·n/100)`` under truncating div,
    and the cumulative value at rank k reads off the distinct-value
    histogram walk — inside a tie bucket every row equals v, so
    ``cum_v = cum_vc + (k − cum)·v`` (``cum``/``cum_vc`` = running
    count/value through that bucket) is exact int64. Shares are the
    only doubles. One histogram-sized prefix sum; non-negative integer
    values required."""
    ps = [int(p) for p in (pcts or [10, 20, 30, 40, 50,
                                    60, 70, 80, 90, 100])]
    if any(not 0 < p <= 100 for p in ps):
        raise ValueError("pcts must be in (0, 100]")
    src = (df.select(F.col(value_col).cast("long").alias("v"))
           .where(F.col(value_col).isNotNull()))
    hist = src.groupBy("v").agg(F.count("*").alias("c"))
    cum = prefix_sums(hist, ["v"], {"cum": "c", "cum_vc": F.expr("v * c")})
    tot = hist.agg(F.sum("c").cast("long").alias("n"),
                   F.sum(F.expr("v * c")).cast("long").alias("s"))
    p_tbl = df.sparkSession.createDataFrame(
        [(p,) for p in ps], "p_pct long")
    ranks = (p_tbl.crossJoin(F.broadcast(tot))
             .withColumn("k", F.expr(
                 "((p_pct * n) + 99) div 100")))
    hit = (ranks.join(cum, holds_rank("k"))
           .select("p_pct", "k", "n", "s",
                   F.expr("cum_vc + ((k - cum) * v)").alias("cum_v")))
    return (hit.select(
        "p_pct", "k", "cum_v", "n", "s",
        F.expr("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)")
        .alias("pop_share"),
        F.expr("CASE WHEN s = 0 THEN NULL ELSE"
               " CAST(cum_v AS DOUBLE) / CAST(s AS DOUBLE) END")
        .alias("value_share")))


def median_mad(df: DataFrame, value_col: str,
               bucket_expr: str | None = None) -> DataFrame:
    """Robust location/scale → ONE row ``(n, median, mad)``: the exact
    median (low element of the pair at even n — the exact_quantiles
    p=50 convention) and the exact median absolute deviation — both
    REAL data values, no interpolation, via two exact_quantiles passes
    (|v − median| stays integer for integer inputs). The robust
    z-score denominator every outlier screen wants without assuming
    normality."""
    med_row = exact_quantiles(df.select(F.col(value_col).alias("v")),
                              "v", [500_000],
                              bucket_expr=bucket_expr)
    med = med_row.select(F.col("value").cast("long").alias("median"))
    dev = (df.select(F.col(value_col).cast("long").alias("v"))
           .where(F.col(value_col).isNotNull())
           .crossJoin(F.broadcast(med))
           .select("median", F.expr("abs(v - median)").alias("d")))
    mad_row = exact_quantiles(dev.select("d"), "d", [500_000],
                              bucket_expr=bucket_expr)
    n_row = dev.agg(F.count("*").cast("long").alias("n"),
                    F.max("median").alias("median"))
    return (n_row.crossJoin(F.broadcast(
        mad_row.select(F.col("value").cast("long").alias("mad"))))
        .select("n", "median", "mad"))


def runs_test(df: DataFrame, order_col: str, flag_col: str) -> DataFrame:
    """Wald–Wolfowitz runs test → ONE row ``(n, n1, n2, runs, z)`` —
    the randomness screen for a binary sequence in a given order
    (residual signs, above/below-threshold flags): too few runs =
    clumping, too many = oscillation.

    Exact core: ``runs = 1 + Σ(flagᵢ ≠ flagᵢ₋₁)`` via one ordered lag
    (the caller's ``order_col`` must be a unique total order — the
    sessionize discipline), counts n1/n2 from the same pass. ``z``
    applies the normal approximation μ = 2n1n2/n + 1,
    σ² = 2n1n2(2n1n2 − n)/(n²(n−1)) as a single fixed-order double
    expression (NULL when either class is empty). The lag window is
    UNPARTITIONED by the test's nature (one global sequence) — callers
    with per-key series should partition upstream and call per key;
    the catalog entry keeps the sequence histogram-bounded."""
    src = (df.select(F.col(order_col).alias("o"),
                     F.col(flag_col).cast("boolean").alias("f"))
           .where(F.col(flag_col).isNotNull()))
    w = Window.orderBy("o")
    flipped = src.select(
        "f", F.when(F.lag("f").over(w).isNull(), F.lit(0))
        .when(F.lag("f").over(w) != F.col("f"), F.lit(1))
        .otherwise(F.lit(0)).alias("flip"))
    agg = flipped.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("CASE WHEN f THEN 1 ELSE 0 END")).cast("long")
        .alias("n1"),
        (F.sum("flip") + 1).cast("long").alias("runs"))
    z = ("CASE WHEN (n1 = 0) OR (n1 = n) OR (n < 2) THEN NULL ELSE"
         " (CAST(runs AS DOUBLE) - ((2.0E0 * CAST(n1 AS DOUBLE)"
         " * CAST(n - n1 AS DOUBLE)) / CAST(n AS DOUBLE) + 1.0E0))"
         " / sqrt(((2.0E0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))"
         " * ((2.0E0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))"
         " - CAST(n AS DOUBLE)))"
         " / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
         " * CAST(n - 1 AS DOUBLE))) END")
    return agg.select("n", "n1", F.expr("n - n1").alias("n2"),
                      "runs", F.expr(z).alias("z"))


def weighted_median(df: DataFrame, value_col: str,
                    weight_col: str) -> DataFrame:
    """Exact weighted (lower) median → ONE row ``(n, w_total, wmed)``:
    the smallest value whose cumulative weight reaches half the total
    (ceil under truncating div) — a real data value, located on the
    distinct-value histogram walk (the lorenz/quantiles bound class).
    Integer weights required."""
    src = (df.select(F.col(value_col).cast("long").alias("v"),
                     F.col(weight_col).cast("long").alias("wt"))
           .where(F.col(value_col).isNotNull()
                  & F.col(weight_col).isNotNull()
                  & (F.col(weight_col) > 0)))
    hist = src.groupBy("v").agg(F.count("*").alias("c"),
                                F.sum("wt").alias("w"))
    tot = hist.agg(F.sum("c").cast("long").alias("n"),
                   F.sum("w").cast("long").alias("w_total"))
    walk = (prefix_sums(hist, ["v"], {"cum_w": "w"})
            .crossJoin(F.broadcast(tot)))
    return (walk.where(holds_rank(F.expr("(w_total + 1) div 2"),
                                  "cum_w", "w"))
            .select("n", "w_total", F.col("v").alias("wmed")))


def group_mode(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Exact per-group mode with a PINNED tie rule → ``(key, mode,
    mode_n)``: the most frequent value, ties broken by the smallest
    value (deterministic, the focal_mode convention) — one
    groupBy(key, value) count + one partitioned rank window."""
    counts = (df.select(F.col(key_col).alias("key"),
                        F.col(value_col).alias("val"))
              .where(F.col(value_col).isNotNull())
              .groupBy("key", "val").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("key").orderBy(
        F.col("cnt").desc(), F.col("val").asc())
    return (counts.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .select("key", F.col("val").alias("mode"),
                    F.col("cnt").alias("mode_n")))


def trimmed_mean(df: DataFrame, value_col: str,
                 trim_ppm: int = 100_000) -> DataFrame:
    """Exact trimmed mean → ONE row ``(n, k, kept_n, kept_sum,
    tmean)``: drop the ``k = (trim_ppm·n) div 10⁶`` smallest AND
    largest observations, average the rest — the robust location
    everyone actually ships. The kept sum is EXACT: the cumulative
    value at any rank r reads off the distinct-value histogram
    (``cum_v(r) = cum_vc + (r − cum)·v`` inside the tie bucket — the
    lorenz_curve partial), so
    ``kept_sum = cum_v(n−k) − cum_v(k)``; ``tmean`` is the single
    division. Integer values; one histogram-sized window."""
    p = int(trim_ppm)
    if not 0 <= p < 500_000:
        raise ValueError("trim_ppm must be in [0, 500000)")
    src = (df.select(F.col(value_col).cast("long").alias("v"))
           .where(F.col(value_col).isNotNull()))
    hist = src.groupBy("v").agg(F.count("*").alias("c"))
    cum = prefix_sums(hist, ["v"], {"cum": "c", "cum_vc": F.expr("v * c")})
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    ranks = (tot.select(
        "n", F.expr(f"(({p} * n) div 1000000)").alias("k"))
        .select("n", "k", F.expr("k").alias("r_lo"),
                F.expr("n - k").alias("r_hi")))

    def cum_at(r_col: str, alias: str) -> DataFrame:
        # rank 0 → cumulative 0 (nothing dropped below)
        return (ranks.join(cum, holds_rank(r_col), "left")
                .select("n", "k",
                        F.coalesce(F.expr(f"cum_vc + (({r_col} - cum) * v)"),
                                   F.lit(0)).cast("long").alias(alias)))

    lo = cum_at("r_lo", "cum_lo")
    hi = cum_at("r_hi", "cum_hi")
    out = (lo.join(hi, ["n", "k"])
           .select("n", "k",
                   F.expr("n - (2 * k)").alias("kept_n"),
                   F.expr("cum_hi - cum_lo").alias("kept_sum")))
    return out.select(
        "n", "k", "kept_n", "kept_sum",
        F.expr("CASE WHEN kept_n <= 0 THEN NULL ELSE"
               " CAST(kept_sum AS DOUBLE) / CAST(kept_n AS DOUBLE)"
               " END").alias("tmean"))

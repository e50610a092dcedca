"""Deduplication operator family for training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup
— each a DataFrame→DataFrame operator designed for the 100 TB regime:

- exact: hash-groupBy, one shuffle, partial agg map-side.
- minhash LSH: shingle→minhash→band→bucket self-join. The self-join is on
  (band, band_hash) — candidate pairs only, never the full cross product.
- simhash: 64-bit sign-aggregated word hashes; near-dup = hamming ≤ k,
  banded into 4 x 16-bit chunks for the same bucket-join trick.
- embedding near-dup: cosine ≥ τ via LSH random-hyperplane buckets.

Hash functions are seeded xxhash64 (JVM-side) — deterministic across runs
and parallelism levels. MinHash signatures use the standard
(a*h + b) mod p family over one base hash (public construction, e.g.
Broder '97).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist

_P = 2_147_483_647  # 2^31 - 1 Mersenne prime; keeps a*h+b < 2^63 (no overflow)


def normalize_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per normalized-text group."""
    return (
        df.withColumn("_fp", F.md5(normalize_text(F.col(text_col))))
        .groupBy("_fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("group_size"))
        .drop("_fp")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles over normalized text (distinct)."""
    toks = F.filter(F.split(normalize_text(text), " "), lambda t: t != "")
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def minhash_signature(shingles: Column, num_hashes: int = 32, seed: int = 7) -> Column:
    """num_hashes-wide minhash signature as array<bigint>.

    One base xxhash64 per shingle, then the affine family
    (a_i * h + b_i) mod p — vectorized per row via transform/aggregate,
    all JVM-side."""
    base = F.transform(shingles, lambda s: F.abs(F.xxhash64(s, F.lit(seed))) % _P)

    def affine(a: int, b: int):
        # factory (not default-arg lambda: PySpark counts defaults as params)
        return lambda h: (h * a + b) % _P

    sig = []
    for i in range(num_hashes):
        sig.append(F.array_min(F.transform(base, affine(2 * i + 1, 7919 * (i + 1)))))
    return F.array(*sig)


def shingle_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, g) DISTINCT shingle posting rows — the shared substrate for
    minhash signatures, inverted-index candidates, and exact Jaccard.

    Built relationally (posexplode tokens → window lead → concat), NOT via
    array higher-order functions: HOFs run interpreted with per-element
    boxing, measured ~5-10x slower at sf0.1; this shape is whole-stage
    codegen'd end-to-end and never carries wide arrays through a shuffle.
    Docs with < n tokens contribute their whole token string (same
    semantics as word_shingles)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("toks"),
    ).select("id", F.size("toks").alias("n_toks"), F.posexplode("toks").alias("pos", "tok"))
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.lead("tok", i).over(w) for i in range(1, n)]
    grams = toks.select(
        "id", "n_toks", "pos",
        F.concat_ws(" ", F.col("tok"), *lead_cols).alias("g"),
    )
    full = grams.filter(
        (F.col("n_toks") >= n) & (F.col("pos") <= F.col("n_toks") - n)
    ).select("id", "g")
    # short docs: one shingle = the whole (normalized) token string
    short = (
        df.select(F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("g"))
        .filter(F.size(F.split("g", " ")) < n)
    )
    return full.unionByName(short).dropDuplicates(["id", "g"])


def minhash_signatures(
    postings: DataFrame, num_hashes: int = 32, seed: int = 7,
) -> DataFrame:
    """Signatures from (id, g) postings: ONE codegen'd xxhash64 per
    shingle → the affine family as scalar columns → groupBy(id) with
    map-side partial min aggregation. Shuffle carries only
    (id, num_hashes mins) per doc after partial agg."""
    h = F.abs(F.xxhash64("g", F.lit(seed))) % _P
    mins = [
        F.min((h * (2 * i + 1) + 7919 * (i + 1)) % _P).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = postings.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def pair_jaccard(postings: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Exact set Jaccard from posting rows, fully relational.

    Two scale regimes:

    - ``pairs is None`` (discovery mode): |A∩B| via the inverted-index
      self-join on shared shingles — quadratic in per-shingle document
      frequency; callers at scale must df-cap first (see
      ``ngram_jaccard_pairs``).
    - ``pairs`` given (candidate mode, e.g. from LSH): the quadratic
      self-join is NEVER built. Postings are first semi-joined down to
      candidate ids, then intersections are computed by routing postings
      THROUGH the pairs table: pairs ⋈ postings(id_a) on id, then ⋈
      postings(id_b) on (id, g). Cost is linear in
      Σ_pairs(|shingles(a)|) — the LSH stage's savings are preserved.
      Pairs sharing no shingle still get jaccard 0 (left join back).
    """
    if pairs is not None:
        # pairs fans out to 4+ subtrees (cand_ids x2, the through-join,
        # the left join back) — without persist, Spark re-executes the
        # candidate-generation plan (e.g. the whole LSH banding join) once
        # per reference
        pairs = persist(pairs)
        cand_ids = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        # shrink postings to candidate docs before any join — at 100 TB
        # the candidate set is orders of magnitude smaller than the corpus
        p = persist(postings.join(cand_ids, "id", "left_semi"))
        sizes = p.groupBy("id").agg(F.count("*").alias("sz"))
        inter = (
            pairs.join(p.alias("a"), F.col("id_a") == F.col("a.id"))
            .select("id_a", "id_b", F.col("a.g").alias("_ga"))
            .join(
                p.alias("b"),
                (F.col("id_b") == F.col("b.id")) & (F.col("_ga") == F.col("b.g")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
        inter = pairs.join(inter, ["id_a", "id_b"], "left") \
            .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
    else:
        sizes = postings.groupBy("id").agg(F.count("*").alias("sz"))
        a, b = postings.alias("a"), postings.alias("b")
        inter = (
            a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_inter"))
        )
    scored = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
    )
    inter_d = F.col("n_inter").cast("double")
    union_d = (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double")
    return scored.select("id_a", "id_b", (inter_d / union_d).alias("jaccard"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash LSH.

    rows = num_hashes/bands. Pairs sharing ANY band bucket are emitted once
    (id_a < id_b) with their exact shingle-Jaccard for thresholding.
    Scale shape: explode bands (x bands rows) → self-join on (band, hash)
    → dedup pairs. Hot buckets (boilerplate docs) are the skew risk: AQE
    skew-join splits them; a bucket-size cap can be layered on top."""
    rows_per_band = num_hashes // bands
    # postings feed 4 subtrees (signatures, inverted-index both sides,
    # sizes) — persist once instead of recomputing the tokenize+window
    # pipeline per subtree (diamond reuse; Spark has no auto CTE
    # materialization for DataFrames)
    postings = persist(shingle_postings(df, id_col, text_col, shingle_n))
    sig = minhash_signatures(postings, num_hashes)
    band_hashes = [
        F.xxhash64(F.concat_ws(",", F.slice("sig", b * rows_per_band + 1, rows_per_band)))
        for b in range(bands)
    ]
    banded = sig.select("id", F.posexplode(F.array(*band_hashes)).alias("band", "bucket"))
    banded = cap_bucket_size(banded, ["band", "bucket"], max_bucket_size)
    left, right = banded.alias("l"), banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return pair_jaccard(postings, pairs)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 3, threshold: float = 0.5, max_ids: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs generated by shared-shingle
    co-occurrence (inverted-index join — never a cross join). For bounded
    fan-out, one shingle posting list row per (shingle, id).

    ``max_df`` is the 100-TB skew guard: a shingle shared by B docs emits
    B²/2 candidate rows from the self-join, so boilerplate shingles
    (headers, license blurbs) make the inverted index quadratic. With
    ``max_df`` set, shingles with document frequency > max_df are dropped
    from BOTH candidate generation and scoring (set sizes shrink
    consistently, so jaccard stays a true Jaccard over the capped shingle
    universe). High-df shingles carry no dedup signal — near-dup pairs
    still share plenty of rare shingles. Default None = exact semantics
    (the DuckDB oracle twin); set it for production corpora."""
    postings = shingle_postings(df, id_col, text_col, shingle_n)
    if max_df is not None:
        dfreq = postings.groupBy("g").agg(F.count("*").alias("_df"))
        postings = postings.join(
            dfreq.filter(F.col("_df") <= max_df).drop("_df"), ["g"], "inner"
        ).select("id", "g")
    postings = persist(postings)
    return pair_jaccard(postings).filter(F.col("jaccard") >= threshold)


def _bit_masks(bits: int) -> Column:
    # literal per-bit masks; bit 63 is int64 min (1<<63 unrepresentable +)
    return F.array(*[
        F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long") for i in range(bits)
    ])


def simhash_expr(text: Column, bits: int = 64, seed: int = 11) -> Column:
    """64-bit SimHash: per-token xxhash64, sum +1/-1 per bit position,
    sign → bit. Expressed with aggregate over a 64-slot int array —
    JVM-side only. Bit tests use literal masks (shift amounts cannot be
    Columns in shiftleft/shiftright)."""
    toks = F.filter(F.split(normalize_text(text), " "), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
    masks = _bit_masks(bits)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts, masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def cap_bucket_size(
    banded: DataFrame, keys: list[str], max_bucket_size: int | None,
) -> DataFrame:
    """Shared skew guard for band-LSH self-joins: drop buckets with more
    than ``max_bucket_size`` members before the self-join. A bucket of B
    members emits B²/2 pairs, so one pathological bucket (all-identical
    boilerplate, constant-color images, zero vectors) dominates the whole
    job at scale; oversize buckets are near-universal patterns with no
    dedup signal. No-op when max_bucket_size is None."""
    if max_bucket_size is None:
        return banded
    sizes = banded.groupBy(*keys).agg(F.count("*").alias("_bsz"))
    return banded.join(
        sizes.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz"), keys, "inner"
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, candidates via
    4x16-bit band buckets (any exact band match → candidate; catches all
    pairs with ≤3 differing bits by pigeonhole). ``max_bucket_size`` caps
    pathological buckets (see cap_bucket_size)."""
    sh = df.select(F.col(id_col).alias("id"), simhash_expr(F.col(text_col)).alias("h"))
    banded = sh.select(
        "id", "h",
        F.posexplode(
            F.array(*[
                F.shiftright("h", 16 * b).bitwiseAND(F.lit(0xFFFF)) for b in range(4)
            ])
        ).alias("band", "chunk"),
    )
    banded = cap_bucket_size(banded, ["band", "chunk"], max_bucket_size)
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"),
              (F.col("a.band") == F.col("b.band")) & (F.col("a.chunk") == F.col("b.chunk"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.h").alias("h_a"), F.col("b.h").alias("h_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def dup_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Transitive closure of near-duplicate pairs → (id, cluster_id) with
    cluster_id = the smallest id reachable through the dup graph — the
    step that turns pairwise dedup output into droppable groups.

    Distributed min-label propagation (the standard large-graph CC
    recipe): labels start as own id; each round every node takes the min
    of its label and its neighbors' labels — one equi-join + groupBy per
    round, frontier persisted, loop exits when a round changes nothing
    (driver checks ONE count per round, never row data). Rounds needed =
    graph diameter ≤ O(log n) on typical dup clusters; ``max_iters``
    bounds adversarial chains.
    """
    edges = persist(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    # localCheckpoint (not persist) on the loop-carried frontier: it
    # TRUNCATES the logical plan, so round N's analysis cost stays O(1)
    # instead of O(N) — without it, Catalyst re-analyzes an ever-deeper
    # lineage every round and iteration time explodes past ~15 rounds
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label")))
                .alias("label"),
                (F.col("nmin") < F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("_chg")).count()
        labels = updated.select("id", "label")
        if changed == 0:
            break
    if changed != 0:
        # a dup chain with diameter > max_iters would otherwise return
        # silently partial labels (ADVICE round-2): fail loudly — the
        # caller can raise max_iters (rounds needed = graph diameter)
        edges.unpersist()
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters")
    out = labels.select("id", F.col("label").alias("cluster_id"))
    edges.unpersist()
    return out


def dedup_keep_list(pairs: DataFrame) -> DataFrame:
    """(id, cluster_id, keep) — keep=true for the cluster representative
    (min id). Drop rows with keep=false to dedup the corpus."""
    cl = dup_clusters(pairs)
    return cl.withColumn("keep", F.col("id") == F.col("cluster_id"))


def canonical_pick(
    clusters: DataFrame, docs: DataFrame, quality: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked canonical selection: within each near-dup cluster
    keep the HIGHEST-quality member (ties → lowest id) instead of the
    arbitrary min-id of :func:`dedup_keep_list` — the curation rule real
    pipelines want (keep the best capture of a duplicated page, not the
    first). One shuffle (window over cluster_id); docs not in any
    cluster are implicitly kept and never enter the window."""
    from pyspark.sql import Window

    q = docs.select(F.col(id_col).alias("id"), quality.alias("quality"))
    j = clusters.join(q, "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("id"))
    return j.withColumn("keep", F.row_number().over(w) == 1)


def setsim_join(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    tau_ppm: int = 350_000,
) -> DataFrame:
    """Set-similarity join with the PREFIX FILTER (PPJoin family) — the
    LOSSLESS candidate-pruning technique for token-set Jaccard ≥ τ:
    order every document's distinct tokens by global (frequency, token)
    ascending — rarest first under one total order — and explode only
    the first ``m − ceil(τ·m) + 1`` tokens; two sets with Jaccard ≥ τ
    MUST share a prefix token (pigeonhole), so the equi-join on prefix
    tokens misses nothing, while common words (which sit at the back of
    every ordering) never generate candidates. A length filter
    (τ·|A| ≤ |B| ≤ |A|/τ) prunes further before verification.

    Exact end-to-end: ceil via integer ``(tau_ppm·m + 999999) div 10⁶``,
    verification via array_intersect on the distinct token arrays and
    ``jaccard_ppm = 10⁶·inter div (|A|+|B|−inter)``. Unlike
    ``ngram_jaccard_pairs``'s ``max_df`` cap (lossy, production guard),
    the prefix filter is exact for the declared τ — the right default
    when the threshold is known up front."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(F.filter(
            F.split(normalize_text(F.col(text_col)), " "),
            lambda t: t != ""))).alias("toks"))
    toks = base.select("id", F.explode("toks").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("df_"))
    ordered = persist(
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(
            F.struct(F.col("df_").alias("f"),
                     F.col("tok").alias("t")))).alias("ord"))
        .select("id",
                F.transform("ord", lambda s: s["t"]).alias("toks"),
                F.size("ord").alias("m"))
    )
    prefix = ordered.select(
        "id", "m",
        F.explode(F.slice(
            "toks", F.lit(1),
            F.col("m")
            - F.expr(f"(({tau_ppm} * m) + 999999) div 1000000")
            + 1)).alias("tok"))
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.tok") == F.col("b.tok"))
              & (F.col("a.id") < F.col("b.id"))
              & (F.col("b.m") * 1_000_000 >= F.lit(tau_ppm) * F.col("a.m"))
              & (F.col("a.m") * 1_000_000 >= F.lit(tau_ppm) * F.col("b.m")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = ordered.select(F.col("id").alias("id_a"),
                        F.col("toks").alias("ta"), F.col("m").alias("ma"))
    sb = ordered.select(F.col("id").alias("id_b"),
                        F.col("toks").alias("tb"), F.col("m").alias("mb"))
    verified = (cand.join(sa, "id_a").join(sb, "id_b")
                .select("id_a", "id_b",
                        F.size(F.array_intersect("ta", "tb")).alias("inter"),
                        F.col("ma"), F.col("mb"))
                .withColumn("jaccard_ppm",
                            F.expr("(1000000 * inter) div"
                                   " (ma + mb - inter)"))
                .where(F.col("jaccard_ppm") >= tau_ppm)
                .select("id_a", "id_b", "inter", "jaccard_ppm"))
    return verified


def deletion_variants(col: str, d: int) -> "F.Column":
    """All strings reachable from ``col`` by deleting AT MOST ``d``
    characters (the string itself included), distinct, as a PURE
    CODEGEN array expression — no Python on the data path. O(len^d)
    variants per string, so d is 1 or 2 in practice (the FastSS /
    SymSpell regime)."""
    if d < 0:
        raise ValueError("d must be >= 0")

    def del1(e: str) -> str:
        # one lambda var reference only — HOF lambdas don't CSE
        # captured expressions, but `e` here is always a plain var
        return (f"(CASE WHEN length({e}) = 0 THEN array() "
                f"ELSE transform(sequence(1, length({e})), i -> "
                f"concat(substring({e}, 1, i - 1), "
                f"substring({e}, i + 1, length({e})))) END)")

    expr = f"array(`{col}`)"
    for _ in range(d):
        expr = (f"array_distinct(flatten(transform({expr}, "
                f"s -> array_insert({del1('s')}, 1, s))))")
    return F.expr(f"array_distinct({expr})")


def edit_distance_join(
    df: DataFrame, d: int = 1, text_col: str = "text",
    id_col: str = "doc_id", max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact Levenshtein-threshold self-join via the FastSS deletion
    neighborhood: ``ed(a, b) ≤ d  ⟺  D_d(a) ∩ D_d(b) ≠ ∅`` (take an
    optimal edit script; a substitution deletes its char on BOTH
    sides, an insert/delete on ONE — ≤ d deletions per side land both
    strings on a common variant). Candidates therefore come from an
    ordinary EQUI-join on variant strings — no cartesian, no
    similarity-scan — then exact ``levenshtein`` verification prunes
    the ≤ 2d-distance false positives the variant meet admits.

    Variant keys are near-unique (a shared variant is already a
    near-duplicate signal), so the join is skew-free on natural text;
    ``max_bucket_size`` caps pathological repeated-string buckets
    (see :func:`cap_bucket_size`). Returns ``(id_a, id_b, dist)``
    with ``id_a < id_b``; pairs at distance 0 (exact dups) included.
    """
    toks = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(deletion_variants(text_col, d)).alias("v"))
    toks = cap_bucket_size(toks, ["v"], max_bucket_size)
    cand = (
        toks.alias("a")
        .join(toks.alias("b"),
              (F.col("a.v") == F.col("b.v"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct())
    sa = df.select(F.col(id_col).cast("long").alias("id_a"),
                   F.col(text_col).alias("_sa"))
    sb = df.select(F.col(id_col).cast("long").alias("id_b"),
                   F.col(text_col).alias("_sb"))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("dist", F.levenshtein("_sa", "_sb"))
            .where(F.col("dist") <= d)
            .select("id_a", "id_b", "dist"))

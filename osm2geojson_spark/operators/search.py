"""Ranked retrieval over the corpus: BM25 scoring on the same postings
the inverted-index builder produces.

GRAFT extension (no reference analog — the reference's query surface is
key/value lookup only, `SortingMapFilesTest.java`-style); this is the
search-side consumer of the ``inverted_index`` catalog op.

Determinism discipline (queries.py module rules): the classic BM25 uses
``ln`` for idf — libm transcendentals are not correctly rounded and
drift across engines, so this is **ratio-BM25**: the log is replaced by
its (rational) argument, exactly the move ``lm_score`` makes for the
Stupid-Backoff LM. Every factor is a single IEEE division of exact
int64 products, the per-document sum over query terms is an ORDERED
fold (term-sorted), so scores are bit-identical across Spark / DuckDB /
any IEEE-754 engine.

With ``k1 = p1/q1`` and ``b = p2/q2`` the tf-normalization term

    tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/L))

is scaled by ``q1·q2·L`` into a ratio of exact integers:

    num = (p1+q1)·q2 · tf · L
    den = q1·q2·L·tf + p1·(q2−p2)·L + p1·p2·dl·N

and the (+0.5-smoothed Robertson) idf argument becomes
``(2N − 2df + 1) / (2df + 1)``.

int64 headroom note: ``tf·L`` caps the products; at ~1e13 corpus tokens
and tf ~1e4 the 44·tf·L product nears int64 range — at that scale factor
L out of num/den first (one extra rounding, same ranking).

Scale shape: ONE corpus token pass (per-doc length and one filtered
count per query term ride the same map-side-combinable aggregation —
measured 2× over the two-scan postings formulation), a one-row corpus
stats broadcast, and a TakeOrderedAndProject top-k. No joins at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2geojson_spark.functions.text import tokens_expr
from osm2geojson_spark.session import persist

__all__ = ["bm25_topk"]


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    limit: int = 50,
) -> DataFrame:
    """Top-``limit`` documents for a bag-of-terms query under ratio-BM25.

    Returns ``(doc_id, n_hit_terms, score)`` ordered by score descending
    (ties broken by ``doc_id``). ``k1``/``b`` are exact rationals
    ``(num, den)`` — defaults are the textbook 1.2 / 0.75.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    p1, q1 = (int(k1[0]), int(k1[1]))
    p2, q2 = (int(b[0]), int(b[1]))
    if q1 <= 0 or q2 <= 0 or p1 < 0 or p2 < 0 or p2 > q2:
        raise ValueError("k1 must be >= 0 and b in [0, 1], exact rationals")

    # ONE token pass: per-doc length + one filtered count per query term
    # (k tiny filtered aggs beat a second corpus scan + tf/dl join)
    pos = (df.select(F.col(id_col),
                     tokens_expr(F.col(text_col)).alias("_t"))
           .where(F.size("_t") >= 1)
           .select(F.col(id_col), F.explode("_t").alias("w")))
    per_doc = pos.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dl"),
        *[F.count(F.when(F.col("w") == t, F.lit(1)))
          .cast("long").alias(f"tf_{i}") for i, t in enumerate(terms)])
    # per_doc feeds BOTH the stats aggregate and the scored output —
    # without a persist the corpus explode+agg runs twice (measured
    # 2.4 s → 1.0 s at sf0.1). Doc-level rows are bounded (N × (k+2)
    # ints), the right thing to cache.
    per_doc = persist(per_doc)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").alias("l_total"),
        *[F.count(F.when(F.col(f"tf_{i}") > 0, F.lit(1)))
          .cast("long").alias(f"df_{i}") for i in range(len(terms))])

    n = F.col("n_docs")
    l_tot = F.col("l_total")

    def term_score(i: int):
        # tf = 0 yields num = 0 → s = +0.0 exactly, so absent terms
        # contribute the additive identity and the fixed-order sum below
        # is bit-identical to folding only the present terms
        tf = F.col(f"tf_{i}")
        dfc = F.col(f"df_{i}")
        idf = ((F.lit(2) * n - F.lit(2) * dfc + F.lit(1)).cast("double")
               / (F.lit(2) * dfc + F.lit(1)).cast("double"))
        num = (F.lit((p1 + q1) * q2) * tf * l_tot).cast("double")
        den = (F.lit(q1 * q2) * l_tot * tf
               + F.lit(p1 * (q2 - p2)) * l_tot
               + F.lit(p1 * p2) * F.col("dl") * n).cast("double")
        return idf * (num / den)

    score = F.lit(0.0)
    for i in range(len(terms)):  # ordered left fold, term-sorted
        score = score + term_score(i)
    n_hit = sum((F.col(f"tf_{i}") > 0).cast("long")
                for i in range(len(terms)))

    tf_cols = [F.col(f"tf_{i}") for i in range(len(terms))]
    any_hit = tf_cols[0] if len(tf_cols) == 1 else F.greatest(*tf_cols)
    out = (per_doc.crossJoin(F.broadcast(stats))
           .where(any_hit > 0)
           .select(F.col(id_col),
                   n_hit.alias("n_hit_terms"),
                   score.alias("score"))
           .orderBy(F.col("score").desc(), F.col(id_col))
           .limit(int(limit)))
    return out


def rake_word_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    stopwords: tuple = ("a", "the", "and", "of", "in",
                                        "to", "is"),
                    min_freq: int = 3) -> DataFrame:
    """RAKE keyword substrate (Rose et al. 2010): candidate phrases
    are maximal stopword-free runs; each word's ``freq`` (occurrences
    in phrases) and ``degree`` (Σ length of its phrases, multiplicity
    counted) — RAKE ranks by degree/freq, kept as EXACT integers and
    compared cross-multiplied. Tokenization: lowercase, split on
    [^a-z0-9]+ (DuckDB twin needs the 'g' flag — its regexp_replace
    is first-match-only by default). One doc-key window (phrase ids
    = running stopword count), one phrase groupBy, one word groupBy.
    Returns (word, freq, degree) for freq ≥ min_freq."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.filter(
            F.split(F.regexp_replace(F.lower(F.col(text_col)),
                                     "[^a-z0-9]+", " "), " "),
            lambda x: x != "")).alias("pos", "w"))
    stop_arr = list(stopwords)
    flagged = toks.withColumn(
        "stp", F.col("w").isin(stop_arr).cast("long"))
    w_win = (Window.partitionBy("doc").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
    ph = flagged.withColumn("phr", F.sum("stp").over(w_win))
    ns = ph.where(F.col("stp") == 0).select("doc", "phr", "w")
    pl = ns.groupBy("doc", "phr").agg(F.count("*").alias("plen"))
    return (ns.join(pl, ["doc", "phr"])
            .groupBy("w")
            .agg(F.count("*").alias("freq"),
                 F.sum("plen").alias("degree"))
            .where(F.col("freq") >= int(min_freq)))

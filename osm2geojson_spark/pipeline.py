"""End-to-end reference-equivalent pipeline: what `osmjoin.sh` +
`OsmPostProcessor.main` do (OsmJoin.java:463-467 → processAll :423-461;
OsmPostProcessor.java:356-362), as one composable call.

A user of the reference runs:
    java OsmJoin <planet.osm.bz2>   # 7-stage join → 13 gz datasets
    java OsmPostProcessor           # → osm-pois.gz / osm-ways.gz / osm-relations.gz
Here:
    from osm2geojson_spark.pipeline import osm_to_geojson
    osm_to_geojson(spark, "planet.osm.bz2", "/out")

Differences, on purpose (SURVEY §1.4):
- intermediates are DataFrames (optionally materialized via
  ``intermediate_datasets`` + kv_text for byte-diff parity), not 105 GB
  of gz multimap files;
- relations DO produce output (stitched MultiPolygons) — the reference
  returns null for every relation (OsmPostProcessor.java:216-227 FIXME)
  and its main() never even calls processRelations (:356-362); pass
  ``reference_strict=True`` to reproduce that observable behavior.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.operators.osm_join import (
    assemble_relations,
    assemble_ways,
    rel_member_edges,
    split_nodes,
    way_edges,
)
from osm2geojson_spark.operators.postprocess import (
    node_features,
    relation_features,
    way_features,
)
from osm2geojson_spark.session import owned, persist
from osm2geojson_spark.sources.kv_text import write_jsonlines
from osm2geojson_spark.sources.osm_xml import (
    parse_osm_blobs,
    read_osm_blobs,
    read_osm_blobs_distributed,
)


def intermediate_datasets(
    nodes: DataFrame, ways: DataFrame, relations: DataFrame,
) -> dict[str, DataFrame]:
    """The reference's 13 named datasets (OsmJoin.java:42-57) as
    DataFrames — same logical content, typed columns instead of
    ``key;json`` lines (serialize via kv_text.write_kv for byte diffs)."""
    good_nodes, problem_nodes = split_nodes(nodes)
    w_edges = way_edges(ways)
    r_edges = rel_member_edges(relations)
    complete_ways = assemble_ways(nodes, ways)
    complete_rels = assemble_relations(nodes, relations, complete_ways)
    node_members = r_edges.filter(r_edges["member_type"] == "node")
    way_members = r_edges.filter(r_edges["member_type"] == "way")
    return {
        "nodeid2rawnodejson": good_nodes,
        "problemNodes": problem_nodes,
        "nodeid2wayid": w_edges.select("node_id", "way_id"),
        "nodeid2relid": node_members.select(
            node_members["member_id"].alias("node_id"), "rel_id"),
        "wayid2rawwayjson": ways,
        "wayid2relid": way_members.select(
            way_members["member_id"].alias("way_id"), "rel_id"),
        "relid2rawreljson": relations,
        # join-stage products (the reference's wayid2nodejson etc. are
        # re-keyings the DataFrame plan subsumes; the two user-visible
        # "complete" datasets are the ones worth naming)
        "wayid2completejson": complete_ways,
        "relid2completejson": complete_rels,
        # S7 parity: ways with unresolvable <nd> refs (problemWays.gz
        # analogue — the reference logs these inline, OsmJoin.java:305-312)
        "problemWays": complete_ways.filter(
            complete_ways["missing_node_refs"].isNotNull()
            & (F.size("missing_node_refs") > 0)),
    }


_KV_NODE_SCHEMA = "id long, lon double, lat double, tags map<string,string>"


def write_kv_nodes(nodes: DataFrame, path: str) -> None:
    """Materialize a node table as a reference-layout ``id;json`` gz kv
    file (sorted, deduped — SortingWriter parity via kv_text.write_kv).
    The json payload is this engine's canonical node struct; pair with
    :func:`kv_nodes_to_pois` for a resume-from-intermediate run."""
    from osm2geojson_spark.sources.kv_text import write_kv

    kv = nodes.select(
        F.col("id").cast("string").alias("key"),
        F.to_json(F.struct("id", "lon", "lat", "tags")).alias("value"),
    )
    write_kv(kv, path)


def kv_nodes_to_pois(
    spark: SparkSession, kv_path: str, out_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Resume the POI stage from a ``id;json`` kv intermediate — what the
    reference's OsmPostProcessor.processNodePois does from
    nodeid2rawnodejson.gz (OsmPostProcessor.java:115-154), as one call.

    Quarantine routing (round-3, VERDICT item 10): the reference CRASHES
    on a ';'-less line (EntryParsingProcessor indexOf(-1) →
    StringIndexOutOfBounds); here every malformed line lands in the
    returned ``quarantine`` table instead — ';'-less lines via
    read_kv_malformed, json-unparseable payloads via the from_json null
    check — and the good rows flow on unchanged (problem* discipline,
    OsmJoin.java:111-113).

    Returns {"pois", "quarantine"}."""
    from osm2geojson_spark.sources.kv_text import read_kv, read_kv_malformed

    kv = read_kv(spark, kv_path)
    parsed = kv.select(
        "value", F.from_json("value", _KV_NODE_SCHEMA).alias("n"))
    bad_json = parsed.filter(F.col("n.id").isNull()).select(
        F.col("value").alias("line"),
        F.lit("kv value is not a node json").alias("reason"),
    )
    nodes = parsed.filter(F.col("n.id").isNotNull()).select("n.*")
    quarantine = read_kv_malformed(spark, kv_path).unionByName(bad_json)
    out = {"pois": node_features(nodes), "quarantine": quarantine}
    if out_dir is not None:
        write_jsonlines(out["pois"], f"{out_dir}/osm-pois.gz")
    return out


def osm_to_geojson(
    spark: SparkSession,
    xml_path: str,
    out_dir: str | None = None,
    reference_strict: bool = False,
    distributed: bool = False,
) -> dict[str, DataFrame]:
    """XML dump → categorized GeoJSON feature streams.

    Returns {"pois", "ways", "relations"(unless strict), "quarantine"};
    when ``out_dir`` is given, each stream is also written as gzip
    JSON-lines under the reference's file names (osm-pois.gz layout,
    OsmPostProcessor.java:39-41).

    ``distributed=True`` routes ingest through
    :func:`~osm2geojson_spark.sources.osm_xml.read_osm_blobs_distributed`
    — the reference's headline planet case ("30 GB .osm.bz2, DONOT
    expand it", README.md:37) as ONE call: the single compressed file is
    split across tasks with exact boundary stitching, instead of the
    per-file wholetext scan.

    With ``out_dir`` the writes run inside :func:`session.owned`, over a
    persisted blob frame (and, distributed, a persisted split scan): the
    boundary-fragment collect and all three writes share one
    decompression and one XML scan, like the reference's single
    streaming pass (OsmJoin.java:423-461), and the block releases that
    cache on exit. The returned frames stay valid after it: they
    recompute from the file. Without ``out_dir`` nothing is persisted
    and every frame is lazy."""
    write = out_dir is not None
    with owned(spark) if write else nullcontext():
        if distributed:
            blobs = read_osm_blobs_distributed(spark, xml_path, persist_scan=write)
        else:
            blobs = read_osm_blobs(spark, xml_path)
        tabs = parse_osm_blobs(persist(blobs) if write else blobs)
        complete_ways = assemble_ways(tabs["nodes"], tabs["ways"])
        out: dict[str, DataFrame] = {
            "pois": node_features(tabs["nodes"]),
            "ways": way_features(complete_ways),
            "quarantine": tabs["quarantine"],
        }
        if not reference_strict:
            out["relations"] = relation_features(
                assemble_relations(tabs["nodes"], tabs["relations"], complete_ways))
        if write:
            for k in ("pois", "ways", "relations"):
                if k in out:
                    write_jsonlines(out[k], f"{out_dir}/osm-{k}.gz")
    return out


def curate_documents(
    spark: SparkSession,
    docs: DataFrame,
    bench: DataFrame | None = None,
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.2,
    decontam_ngram: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """One-call TRAINING-DATA CURATION pipeline over a document corpus —
    the corpus twin of :func:`osm_to_geojson`'s one-call shape, chaining
    the engine's hygiene operators in the order real pipelines run them
    (C4/Dolma lineage):

      1. PII redaction (regexp chain, zero shuffle)
      2. quality filter (length/word-shape/punctuation score)
      3. exact dedup (normalized-fingerprint groups, min-id keeper)
      4. near-dup clustering (n-gram Jaccard pairs → distributed
         connected components) + quality-ranked canonical selection
      5. benchmark decontamination (drop docs sharing word n-grams
         with the eval set), skipped when ``bench`` is None

    Returns every intermediate stream (quarantine discipline — filtered
    rows are returned, never silently dropped):
    {"clean", "low_quality", "exact_dups", "near_dups", "contaminated",
    "metrics"} where ``metrics`` is a 1-row DataFrame of stage counts.

    Scale: stages 1-2 are map-only; stage 3 is one shuffle; stage 4 is
    the bucketed pair join + O(rounds) CC; stage 5 broadcasts the eval
    grams. Nothing here collects row data to the driver."""
    from pyspark.sql import functions as F

    from osm2geojson_spark.functions.text import quality_score_expr
    from osm2geojson_spark.operators import corpus as CP
    from osm2geojson_spark.operators import dedup as DD

    # 1. PII scrub — replaces the text column, preserves the rest
    red = CP.pii_redact(docs, id_col=id_col, text_col=text_col)
    base = docs.drop(text_col).join(
        red.select(id_col, F.col("redacted").alias(text_col),
                   (F.col("n_emails") + F.col("n_phones") + F.col("n_ips"))
                   .alias("_n_pii")),
        id_col)

    # 2. quality filter
    q = base.withColumn(
        "_q", quality_score_expr(F.col(text_col), F.length(text_col)))
    good = q.where(F.col("_q") >= min_quality)
    low_quality = q.where(F.col("_q") < min_quality)

    # 3. exact dedup
    keep = DD.exact_dedup(good, text_col=text_col, id_col=id_col) \
        .select(F.col("keep_id").alias(id_col))
    exact_kept = good.join(keep, id_col)
    exact_dups = good.join(keep, id_col, "left_anti")

    # 4. near-dup clusters + canonical pick
    pairs = DD.ngram_jaccard_pairs(
        exact_kept, shingle_n=3, threshold=near_dup_threshold,
        id_col=id_col, text_col=text_col)
    clusters = DD.dup_clusters(pairs.select("id_a", "id_b"))
    pick = DD.canonical_pick(clusters, exact_kept, F.col("_q"),
                             id_col=id_col)
    near_dup_ids = pick.where(~F.col("keep")).select(
        F.col("id").alias(id_col))
    near_kept = exact_kept.join(near_dup_ids, id_col, "left_anti")
    near_dups = exact_kept.join(near_dup_ids, id_col)

    # 5. decontamination
    if bench is not None:
        dec = CP.decontaminate(near_kept, bench, n=decontam_ngram,
                               id_col=id_col, text_col=text_col)
        bad_ids = dec.where(F.col("contaminated")).select(id_col)
        clean = near_kept.join(bad_ids, id_col, "left_anti")
        contaminated = near_kept.join(bad_ids, id_col)
    else:
        clean, contaminated = near_kept, near_kept.limit(0)

    metrics = spark.createDataFrame(
        [(docs.count(), low_quality.count(), exact_dups.count(),
          near_dups.count(), contaminated.count(), clean.count())],
        "n_input long, n_low_quality long, n_exact_dups long, "
        "n_near_dups long, n_contaminated long, n_clean long")
    return {"clean": clean.drop("_q", "_n_pii"),
            "low_quality": low_quality.drop("_q", "_n_pii"),
            "exact_dups": exact_dups.drop("_q", "_n_pii"),
            "near_dups": near_dups.drop("_q", "_n_pii"),
            "contaminated": contaminated.drop("_q", "_n_pii"),
            "metrics": metrics}

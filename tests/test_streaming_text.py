"""Streaming inverted-index ingest == batch postings, and df as a
query-time window over the accumulated sink."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from osm2geojson_spark.streaming.events import file_stream, run_stream_to_memory
from osm2geojson_spark.streaming.text import DOCS_SCHEMA, doc_postings

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _norm(rows):
    return sorted((r.term, r.doc_id, r.tf, tuple(r.positions))
                  for r in rows)


def test_doc_postings_matches_explode_groupby(spark, docs):
    from osm2geojson_spark.functions.text import tokens_expr

    want = (docs.select(
        "doc_id", F.posexplode(tokens_expr(F.col("text")))
        .alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"),
             F.sort_array(F.collect_list(F.col("pos").cast("long")))
             .alias("positions")))
    assert _norm(doc_postings(docs).collect()) == _norm(want.collect())


def test_stream_equals_batch(spark, tmp_path, docs):
    # land the corpus as several file drops
    docs.repartition(4).write.parquet(str(tmp_path / "drops"))
    stream = file_stream(spark, str(tmp_path / "drops"), DOCS_SCHEMA, 1)
    run_stream_to_memory(doc_postings(stream), "postings_sink", "append")
    got = spark.table("postings_sink").collect()
    assert _norm(got) == _norm(doc_postings(docs).collect())


def test_df_window_over_sink_matches_batch_index(spark, docs):
    # df computed at query time over accumulated postings == the batch
    # inverted_index df column
    postings = doc_postings(docs)
    w = Window.partitionBy("term")
    with_df = postings.withColumn(
        "df", F.count(F.lit(1)).over(w).cast("long"))
    sample = {r.term: r.df
              for r in with_df.select("term", "df").distinct().collect()}
    want = {r.term: r.n
            for r in postings.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("n")).collect()}
    assert sample == want


def test_postings_empty_doc_emits_nothing(spark):
    d = spark.createDataFrame([(1, "  "), (2, "a b a")],
                              "doc_id long, text string")
    rows = _norm(doc_postings(d).collect())
    assert rows == [("a", 2, 2, (0, 2)), ("b", 2, 1, (1,))]

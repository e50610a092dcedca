"""Driver-contract self-check: replays the DuckDB oracle compare exactly
like the driver (row count, sorted columns, order-insensitive value
multiset) for a fast subset of queries at sf0.001; the full sweep lives in
tools/check_oracle.py (run at sf0.01)."""

from __future__ import annotations

import subprocess
import sys

import duckdb
import pytest

from tools.check_oracle import compare, residue

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

FAST_QUERIES = [
    "pricing_summary", "cogroup_join", "way_assembly", "string_scalar",
    "cell_encode", "tile_histogram", "pip_join", "knn_bruteforce",
    "exact_dedup", "sessionize",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"poly_id", "tile_id", "n_images", "first_image"}


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_oracle_match(spark, duck, name):
    import __spark_entry__ as E
    from osm2geojson_spark.session import owned

    with owned(spark) as before:
        sdf = E.queries()[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
    assert residue(spark, before) == []
    cur = duck.execute(E.oracle_sql()[name])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert compare(sdf.columns, srows, dcols, drows) == []


def test_catalog_rejects_duplicate_name():
    # a dict literal keeps the last of two equal keys without error
    # (a second scd2_build and a second dbscan once did exactly that)
    import osm2geojson_spark.queries as q

    with pytest.raises(ValueError, match="dbscan"):
        q._catalog([("dbscan", q.q_dbscan, q._SQL_DBSCAN),
                    ("dbscan", q.q_scd2_build, q._SQL_SCD2_BUILD)])


def test_oracle_order_is_queries_order():
    import osm2geojson_spark.queries as q

    assert list(q.oracle_sql()) == list(q.queries())


def test_import_builds_no_twin():
    # twins are built on first oracle_sql(), never at import (the
    # benchmark's setup time imports this module)
    code = ("import osm2geojson_spark.queries as q; "
            "print(q._twin_sql.cache_info().currsize)")
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "0"


def test_image_phash_twin_is_byte_stable():
    # its pairs come from a set of string ids; the twin string must not
    # follow PYTHONHASHSEED
    import os

    code = ("import hashlib, osm2geojson_spark.queries as q; print(hashlib."
            "sha256(q._twin_sql('image_phash_dedup').encode()).hexdigest())")
    shas = {subprocess.run([sys.executable, "-c", code], check=True,
                           capture_output=True, text=True,
                           env={**os.environ, "PYTHONHASHSEED": seed}
                           ).stdout.strip() for seed in ("1", "2")}
    assert len(shas) == 1, shas


def test_head50_samples_every_family():
    # The external gate checks only the FIRST 50 queries() keys — pin
    # that the head stays representative (r4 verdict item 3) and that
    # reordering lost nothing.
    import osm2geojson_spark.queries as q

    full = q._CATALOG
    ordered = q.queries()
    assert set(ordered) == set(full)
    head = list(ordered)[:50]
    assert head == q._HEAD_50
    families = {
        "joins/windows": {"pricing_summary", "window_topk", "asof_join"},
        "osm-reference": {"way_assembly", "cogroup_join", "dedup_kv"},
        "dedup": {"minhash_pairs", "setsim_join", "edit_distance_join"},
        "ann": {"embedding_ivf", "embedding_pq"},
        "spatial": {"pip_join", "knn_ring", "vector_tiles", "str_pack"},
        "routing": {"sssp_delta", "catchment_delta", "cost_distance"},
        "raster": {"box_filter", "distance_transform", "watershed"},
        "media": {"image_validate", "audio_dedup", "video_dedup"},
        "search": {"bm25_topk"},
        "graph": {"pagerank", "scc"},
        "stats": {"exact_quantiles", "table_profile"},
        "cdc": {"snapshot_diff"},
    }
    hs = set(head)
    missing = {fam for fam, keys in families.items() if not keys & hs}
    assert not missing, missing
    # oracle ordering mirrors queries ordering for the shared keys
    osql = list(q.oracle_sql())
    assert osql[: len([k for k in head if k in set(osql)])] == [
        k for k in head if k in set(osql)]

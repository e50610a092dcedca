"""STR bulk packing: distributed global rank + packing invariants vs a
brute-force single-process STR."""

from __future__ import annotations

import math
from itertools import accumulate

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.spatial.strpack import (global_rank, prefix_sums,
                                               str_leaves, str_pack)


def _pts(n):
    # deterministic scatter incl. duplicate x values (rank tie-break by id)
    return [(i, (i * 2654435761) % 10_000, (i * 2246822519 + 7) % 10_000)
            for i in range(n)]


def _ref_str(rows, c):
    n = len(rows)
    pages = max(1, -(-n // c))
    slices = max(1, math.isqrt(pages - 1) + 1)
    per_slice = -(-pages // slices)
    slice_sz = c * per_slice
    by_x = sorted(rows, key=lambda r: (r[1], r[0]))
    out = {}
    for s in range(slices):
        block = by_x[s * slice_sz:(s + 1) * slice_sz]
        for k, r in enumerate(sorted(block, key=lambda t: (t[2], t[0]))):
            out[r[0]] = s * per_slice + k // c
    return out


@pytest.fixture(scope="module")
def pts_df(spark):
    return spark.createDataFrame(_pts(500), "id long, x long, y long").cache()


def test_global_rank_matches_sorted(pts_df):
    got = {r.id: r.rank
           for r in global_rank(pts_df, ["x", "id"],
                                F.expr("x div 1000")).collect()}
    want = {r[0]: i + 1
            for i, r in enumerate(sorted(_pts(500),
                                         key=lambda r: (r[1], r[0])))}
    assert got == want


def test_global_rank_single_bucket_degenerate(pts_df):
    # all rows in one bucket — still exact, just unparallel
    got = {r.id: r.rank
           for r in global_rank(pts_df, ["x", "id"], F.lit(0)).collect()}
    assert sorted(got.values()) == list(range(1, 501))


def _sums_ref(rows):
    # running count and running y in (x, id) order
    by_key = sorted(rows, key=lambda r: (r[1], r[0]))
    return dict(zip((r[0] for r in by_key),
                    zip(accumulate(1 for _ in by_key),
                        accumulate(r[2] for r in by_key))))


def _sums(df, bucket=None):
    out = prefix_sums(df, ["x", "id"], {"n": F.lit(1), "sy": "y"}, bucket)
    return {r.id: (r.n, r.sy) for r in out.collect()}


@pytest.mark.parametrize("bucket", [None, "x div 1000", "0"])
def test_prefix_sums_match_accumulate(pts_df, bucket):
    # unbucketed, bucketed, and one bucket holding every row
    got = _sums(pts_df, None if bucket is None else F.expr(bucket))
    assert got == _sums_ref(_pts(500))


def test_prefix_sums_bucketed_equals_unbucketed(pts_df):
    b = F.expr("x div 37")
    assert _sums(pts_df, b) == _sums(pts_df)
    cols = prefix_sums(pts_df, ["x", "id"], {"n": F.lit(1)}, b).columns
    assert cols == ["id", "x", "y", "n"]


def test_prefix_sums_empty_frame(pts_df):
    empty = pts_df.where("id < 0")
    assert _sums(empty) == {}
    assert _sums(empty, F.expr("x div 1000")) == {}


def test_str_pack_matches_reference(pts_df):
    got = {r.id: r.leaf_id
           for r in str_pack(pts_df, 500, leaf_capacity=16,
                             x_bucket=F.expr("x div 1000")).collect()}
    assert got == _ref_str(_pts(500), 16)


def test_str_leaves_invariants(pts_df):
    assigned = str_pack(pts_df, 500, leaf_capacity=16,
                        x_bucket=F.expr("x div 1000"))
    leaves = str_leaves(assigned).collect()
    assert sum(r.n_items for r in leaves) == 500
    assert all(0 < r.n_items <= 16 for r in leaves)
    assert all(r.x_min <= r.x_max and r.y_min <= r.y_max for r in leaves)
    # page count is within one slice's worth of the optimum ceil(n/c)
    assert math.ceil(500 / 16) <= len(leaves) <= math.ceil(500 / 16) + 6


def test_str_pack_rejects_bad_args(pts_df):
    with pytest.raises(ValueError):
        str_pack(pts_df, 500, leaf_capacity=0)

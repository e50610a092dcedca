"""Round-5 operators: HITS, label propagation, modularity, degree
assortativity, KS / Mann-Whitney rank tests, ACF, IQR outliers,
convoys. Each pinned against an independent hand computation or the
pyref twin on a graph/series SHAPE the catalog entry never exercises
(the codec-test discipline: pin paths the generator doesn't emit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.session import owned


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long")


class TestHits:
    def test_star_authority(self, spark):
        # directed star 1..4 -> 0: node 0 is the unique authority,
        # spokes are the hubs
        from osm2geojson_spark.operators.graph import hits

        out = hits(_edges(spark, [(i, 0) for i in (1, 2, 3, 4)]),
                   n_iters=4).collect()
        byid = {r["node_id"]: r for r in out}
        assert byid[0]["auth"] == 10**8
        assert byid[0]["hub"] == 0
        hubs = [byid[i]["hub"] for i in (1, 2, 3, 4)]
        assert len(set(hubs)) == 1 and hubs[0] == 10**8 // 4

    def test_pyref_parity_hash_graph(self, spark):
        from osm2geojson_spark import pyref
        from osm2geojson_spark.operators.graph import hits

        g = pyref.hash_graph(23, 60)
        got = sorted(
            (r["node_id"], r["hub"], r["auth"])
            for r in hits(_edges(spark, g), n_iters=5).collect())
        assert got == pyref.ref_hits(g, n_iters=5)


class TestLabelProp:
    def test_barbell_splits(self, spark):
        # two 4-cliques joined by one bridge: LPA keeps two communities
        # (min-label CC would flood them into one)
        from osm2geojson_spark.operators.graph import label_propagation

        k1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        k2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        bridge = [(3, 10)]
        labels = {r["node"]: r["label"] for r in label_propagation(
            _edges(spark, k1 + k2 + bridge), n_iters=4).collect()}
        left = {labels[v] for v in range(4)}
        right = {labels[v] for v in range(10, 14)}
        assert len(left) == 1 and len(right) == 1
        assert left != right

    def test_pyref_parity(self, spark):
        from osm2geojson_spark import pyref
        from osm2geojson_spark.operators.graph import label_propagation

        g = pyref.hash_graph(31, 90)
        got = sorted(
            (r["node"], r["label"]) for r in label_propagation(
                _edges(spark, g), n_iters=4).collect())
        assert got == pyref.ref_label_propagation(g, n_iters=4)


class TestModularity:
    def test_two_triangles_hand(self, spark):
        # two triangles + bridge, perfect partition: m = 7,
        # each community: m_in = 3, d_tot = 7 (2·3 intra + 1 bridge end)
        # q_num = 4·7·3 − 49 = 35, q_den = 196 → Q = 70/196 ≈ 0.357
        from osm2geojson_spark.operators.graph import modularity

        tri1 = [(0, 1), (1, 2), (2, 0)]
        tri2 = [(3, 4), (4, 5), (5, 3)]
        e = _edges(spark, tri1 + tri2 + [(0, 3)])
        labels = spark.createDataFrame(
            [(v, v // 3) for v in range(6)], "node long, label long")
        rows = {r["label"]: r for r in modularity(e, labels).collect()}
        for lab in (0, 1):
            assert rows[lab]["m_in"] == 3
            assert rows[lab]["d_tot"] == 7
            assert rows[lab]["q_num"] == 4 * 7 * 3 - 49
            assert rows[lab]["q_den"] == 4 * 49

    def test_pyref_parity(self, spark):
        from osm2geojson_spark import pyref
        from osm2geojson_spark.operators.graph import (
            label_propagation,
            modularity,
        )

        g = pyref.hash_graph(29, 80)
        e = _edges(spark, g)
        got = sorted(
            tuple(r) for r in modularity(
                e, label_propagation(e, n_iters=3)).collect())
        assert got == pyref.ref_modularity(
            g, pyref.ref_label_propagation(g, n_iters=3))


class TestDegreeAssort:
    def test_star_is_minus_one(self, spark):
        # a star is perfectly disassortative: r = -1
        from osm2geojson_spark.operators.graph import degree_assortativity

        row = degree_assortativity(
            _edges(spark, [(0, i) for i in range(1, 6)])).collect()[0]
        assert row["r"] == pytest.approx(-1.0)

    def test_complete_graph_nan_free_cycle(self, spark):
        # a cycle is degree-regular: zero variance → r is NaN (0/0);
        # the caller sees the raw moments to detect it
        from osm2geojson_spark.operators.graph import degree_assortativity

        row = degree_assortativity(
            _edges(spark, [(i, (i + 1) % 5) for i in range(5)])).collect()[0]
        assert row["n_pairs"] == 10
        assert row["sx"] == 20  # all degrees 2


class TestRankStats:
    def test_ks_identical_and_disjoint(self, spark):
        from osm2geojson_spark.operators.stats import ks_2samp

        rows = [(float(v), "a") for v in range(10)] + [
            (float(v), "b") for v in range(10)]
        df = spark.createDataFrame(rows, "value double, grp string")
        r = ks_2samp(df, "value", "grp", "a", "b").collect()[0]
        assert r["d_num"] == 0 and r["d"] == 0.0

        rows = [(float(v), "a") for v in range(5)] + [
            (float(v + 100), "b") for v in range(5)]
        df = spark.createDataFrame(rows, "value double, grp string")
        r = ks_2samp(df, "value", "grp", "a", "b").collect()[0]
        assert r["d"] == 1.0

    def test_ks_hand_case(self, spark):
        # a = [1,2,3], b = [2,3,4]: CDF gap peaks at v=1 → |1·3-0·3|=3,
        # D = 3/9 = 1/3
        from osm2geojson_spark.operators.stats import ks_2samp

        rows = [(1.0, "a"), (2.0, "a"), (3.0, "a"),
                (2.0, "b"), (3.0, "b"), (4.0, "b")]
        df = spark.createDataFrame(rows, "value double, grp string")
        r = ks_2samp(df, "value", "grp", "a", "b").collect()[0]
        assert (r["n1"], r["n2"], r["d_num"]) == (3, 3, 3)
        assert r["d"] == pytest.approx(1 / 3)

    def test_mwu_hand_case_with_ties(self, spark):
        # a = [1, 2, 2], b = [2, 3]: pooled sorted 1,2,2,2,3
        # midranks: 1→1, 2→3 (three-way tie over ranks 2-4), 3→5
        # R1 = 1+3+3 = 7 → r1_x2 = 14; U1 = 7 − 3·4/2 = 1 → u1_x2 = 2
        from osm2geojson_spark.operators.stats import mann_whitney_u

        rows = [(1.0, "a"), (2.0, "a"), (2.0, "a"),
                (2.0, "b"), (3.0, "b")]
        df = spark.createDataFrame(rows, "value double, grp string")
        r = mann_whitney_u(df, "value", "grp", "a", "b").collect()[0]
        assert (r["n1"], r["n2"]) == (3, 2)
        assert r["r1_x2"] == 14
        assert r["u1_x2"] == 2
        assert r["u2_x2"] == 2 * 2 * 3 - 2

    def test_iqr_flags_only_outliers(self, spark):
        from osm2geojson_spark.operators.stats import iqr_outliers

        vals = [float(v) for v in range(1, 21)] + [1000.0, -1000.0]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, value double")
        out = iqr_outliers(df, "value").collect()
        assert sorted(r["value"] for r in out) == [-1000.0, 1000.0]


class TestAcf:
    def test_against_numpy_formula(self, spark):
        import numpy as np

        from osm2geojson_spark.operators.timeseries import acf_lags

        vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)],
            "i long, value double")
        out = {r["lag"]: r for r in acf_lags(
            df.withColumn("k", F.lit("s")), "k", ["i"], "value",
            max_lag=2).collect()}
        x = np.array(vals)
        m = x.mean()
        den = ((x - m) ** 2).sum()
        for lg in (1, 2):
            num = ((x[:-lg] - m) * (x[lg:] - m)).sum()
            assert out[lg]["n_pairs"] == len(x) - lg
            assert out[lg]["acf"] == pytest.approx(num / den, rel=1e-9)


class TestConvoys:
    def test_hand_built_runs(self, spark):
        from osm2geojson_spark.spatial.trajectory import convoys

        # users 1 and 2 share cell (0,0) in buckets 0,1,2 and 4 (gap at
        # 3 splits the runs); user 3 is elsewhere
        rows = []
        for b in (0, 1, 2, 4):
            for u in (1, 2):
                rows.append((u, b * 86_400, 1.0, 1.0))
        rows.append((1, 3 * 86_400, 1.0, 1.0))
        rows.append((2, 3 * 86_400, 100.0, 100.0))
        rows.append((3, 0, 200.0, 200.0))
        df = spark.createDataFrame(
            rows, "user_id long, secs long, x double, y double"
        ).select("user_id", F.col("secs").cast("timestamp").alias("ts"),
                 "x", "y")
        out = convoys(df, x_col="x", y_col="y", cell=8,
                      bucket_secs=86_400, min_len=3).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["user_a"], r["user_b"]) == (1, 2)
        assert (r["start_bucket"], r["end_bucket"], r["run_len"]) == (0, 2, 3)


class TestSpearman:
    def test_perfect_monotone(self, spark):
        from osm2geojson_spark.operators.stats import spearman_rho

        df = spark.createDataFrame(
            [(float(i), float(i * i)) for i in range(10)],
            "x double, y double")
        r = spearman_rho(df, "x", "y").collect()[0]
        assert r["rho"] == pytest.approx(1.0)

    def test_ties_vs_numpy(self, spark):
        import numpy as np
        from osm2geojson_spark.operators.stats import spearman_rho

        rng = np.random.default_rng(5)
        x = rng.integers(0, 8, 60).astype(float)
        y = (x + rng.integers(0, 5, 60)).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, y)],
            "x double, y double")
        r = spearman_rho(df, "x", "y").collect()[0]

        def midranks(v):
            order = np.argsort(v, kind="stable")
            ranks = np.empty(len(v))
            sv = v[order]
            i = 0
            while i < len(sv):
                j = i
                while j < len(sv) and sv[j] == sv[i]:
                    j += 1
                ranks[order[i:j]] = (i + j + 1) / 2
                i = j
            return ranks

        rx, ry = midranks(x), midranks(y)
        expect = np.corrcoef(rx, ry)[0, 1]
        assert r["rho"] == pytest.approx(expect, rel=1e-12)

    def test_constant_column_null(self, spark):
        from osm2geojson_spark.operators.stats import spearman_rho

        df = spark.createDataFrame(
            [(1.0, float(i)) for i in range(5)], "x double, y double")
        r = spearman_rho(df, "x", "y").collect()[0]
        assert r["rho"] is None and r["n"] == 5


class TestABTests:
    def test_ztest_hand(self, spark):
        import math
        from osm2geojson_spark.operators.stats import two_prop_ztest

        rows = ([("a", True)] * 30 + [("a", False)] * 70
                + [("b", True)] * 50 + [("b", False)] * 50)
        df = spark.createDataFrame(rows, "grp string, ok boolean")
        r = two_prop_ztest(df, "grp", "a", "b", "ok").collect()[0]
        assert (r["n1"], r["x1"], r["n2"], r["x2"]) == (100, 30, 100, 50)
        pp = 80 / 200
        want = (0.3 - 0.5) / math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 100))
        assert r["z"] == pytest.approx(want, rel=1e-12)

    def test_welch_vs_numpy(self, spark):
        import numpy as np
        from osm2geojson_spark.operators.stats import welch_ttest

        rng = np.random.default_rng(11)
        a = np.round(rng.normal(10, 2, 40), 2)
        b = np.round(rng.normal(11, 3, 55), 2)
        rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
        df = spark.createDataFrame(rows, "grp string, v double")
        r = welch_ttest(df, "v", "grp", "a", "b").collect()[0]
        v1, v2 = a.var(ddof=1), b.var(ddof=1)
        se2 = v1 / len(a) + v2 / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(se2)
        dof = se2 ** 2 / ((v1 / len(a)) ** 2 / (len(a) - 1)
                          + (v2 / len(b)) ** 2 / (len(b) - 1))
        assert r["t"] == pytest.approx(t, rel=1e-9)
        assert r["dof"] == pytest.approx(dof, rel=1e-9)

    def test_psi_buckets_zero_side(self, spark):
        from osm2geojson_spark.operators.stats import psi_buckets

        rows = ([("a", 5.0)] * 4 + [("a", 15.0)] * 6 + [("b", 5.0)] * 10)
        df = spark.createDataFrame(rows, "grp string, v double")
        out = {r["bucket"]: r for r in psi_buckets(
            df, "v", "grp", "a", "b", 10).collect()}
        assert out[0]["p1_ppm"] == 400_000 and out[0]["p2_ppm"] == 1_000_000
        assert out[1]["n2"] == 0 and out[1]["p2_ppm"] == 0


class TestTimeseriesR5:
    def test_seasonal_profile_hand(self, spark):
        from osm2geojson_spark.operators.timeseries import seasonal_profile

        rows = [("k", 0, 1.0), ("k", 3600, 2.0), ("k", 86400, 3.0),
                ("k", 90000, 5.0)]
        df = spark.createDataFrame(rows, "key string, sec long, v double")
        out = {r["phase"]: r for r in seasonal_profile(
            df, "key", "sec", "v").collect()}
        assert out[0]["n"] == 2 and out[0]["mean_value"] == 2.0
        assert out[1]["n"] == 2 and out[1]["mean_value"] == 3.5

    def test_cusum_hand(self, spark):
        from osm2geojson_spark.operators.timeseries import cusum_alerts

        # target 10: values 12,12,12 accumulate +2 each; threshold 5
        # crosses at the third row
        rows = [("k", i, float(v)) for i, v in
                enumerate([12, 12, 12, 10, 10])]
        df = spark.createDataFrame(rows, "key string, i long, v double")
        out = cusum_alerts(df, "key", ["i"], "v", 10, 5).collect()
        assert [(r["i"], r["cusum"]) for r in out] == [(2, 6.0), (3, 6.0),
                                                       (4, 6.0)]


class TestAttribution:
    def test_first_last_touch(self, spark):
        from osm2geojson_spark.operators.funnel import touch_attribution

        rows = [
            (1, 10, 100, "click"), (1, 20, 101, "view"),
            (1, 30, 102, "click"), (1, 40, 103, "purchase"),
            (1, 50, 104, "purchase"),
            (2, 10, 200, "purchase"),  # no touch before → NULLs
        ]
        df = spark.createDataFrame(
            rows, "user_id long, sec long, event_id long, event_type string")
        out = {r["convert_id"]: r for r in touch_attribution(df).collect()}
        assert (out[103]["first_touch_id"], out[103]["last_touch_id"]) \
            == (100, 102)
        assert (out[104]["first_touch_id"], out[104]["last_touch_id"]) \
            == (100, 102)
        assert out[200]["first_touch_id"] is None


class TestCloseness:
    def test_path_graph_hand(self, spark):
        from osm2geojson_spark.operators.graph import closeness_centrality

        # path 0-1-2-3 with unit weights both ways
        rows = []
        for a, b in [(0, 1), (1, 2), (2, 3)]:
            rows += [(a, b, 1), (b, a, 1)]
        e = spark.createDataFrame(rows, "src long, dst long, w long")
        out = {r["src"]: r for r in closeness_centrality(
            e, [0, 1]).collect()}
        assert (out[0]["n_reached"], out[0]["sum_dist"]) == (4, 6)
        assert out[0]["closeness"] == pytest.approx(3 / 6)
        assert (out[1]["n_reached"], out[1]["sum_dist"]) == (4, 4)
        assert out[1]["closeness"] == pytest.approx(3 / 4)


class TestSegJoin:
    def test_hand_cases(self, spark):
        from osm2geojson_spark.spatial.segjoin import (
            segment_intersection_join)

        segs = [
            # 1 x 2: proper crossing
            (1, 0, 0, 10, 10), (2, 0, 10, 10, 0),
            # 3 touches 1 at an endpoint (collinear touch at (10,10))
            (3, 10, 10, 20, 5),
            # 4 is far away, shares no cell content
            (4, 1000, 1000, 1010, 1010),
            # 5 parallel to 1, offset — no intersection but same cells
            (5, 0, 2, 10, 12),
        ]
        df = spark.createDataFrame(
            segs, "seg_id long, ax long, ay long, bx long, by long")
        out = {(r["seg_a"], r["seg_b"]): r["proper"]
               for r in segment_intersection_join(df, cell=64).collect()}
        assert out[(1, 2)] is True
        assert out[(1, 3)] is False  # endpoint touch
        # 2 and 5 cross at (4,6); 4 is isolated; 1 ∥ 5 never meet
        assert out[(2, 5)] is True
        assert (1, 5) not in out and (1, 4) not in out
        assert set(out) == {(1, 2), (1, 3), (2, 5)}

    def test_brute_force_parity(self, spark):
        import numpy as np
        from osm2geojson_spark.spatial.segjoin import (
            segment_intersection_join)

        rng = np.random.default_rng(3)
        n = 120
        pts = rng.integers(0, 300, size=(n, 2))
        del_ = rng.integers(-80, 81, size=(n, 2))
        segs = [(i, int(pts[i, 0]), int(pts[i, 1]),
                 int(pts[i, 0] + del_[i, 0]), int(pts[i, 1] + del_[i, 1]))
                for i in range(n)]
        df = spark.createDataFrame(
            segs, "seg_id long, ax long, ay long, bx long, by long")
        got = {(r["seg_a"], r["seg_b"])
               for r in segment_intersection_join(df, cell=64).collect()}

        def cross(o, a, b):
            return ((a[0] - o[0]) * (b[1] - o[1])
                    - (b[0] - o[0]) * (a[1] - o[1]))

        def onseg(p, q, r):
            return (min(p[0], q[0]) <= r[0] <= max(p[0], q[0])
                    and min(p[1], q[1]) <= r[1] <= max(p[1], q[1]))

        def inter(s, t):
            p1, p2 = (s[1], s[2]), (s[3], s[4])
            p3, p4 = (t[1], t[2]), (t[3], t[4])
            d1 = cross(p3, p4, p1)
            d2 = cross(p3, p4, p2)
            d3 = cross(p1, p2, p3)
            d4 = cross(p1, p2, p4)
            if ((d1 > 0) != (d2 > 0) and d1 != 0 and d2 != 0
                    and (d3 > 0) != (d4 > 0) and d3 != 0 and d4 != 0):
                return True
            return ((d1 == 0 and onseg(p3, p4, p1))
                    or (d2 == 0 and onseg(p3, p4, p2))
                    or (d3 == 0 and onseg(p1, p2, p3))
                    or (d4 == 0 and onseg(p1, p2, p4)))

        want = {(segs[i][0], segs[j][0])
                for i in range(n) for j in range(i + 1, n)
                if inter(segs[i], segs[j])}
        assert got == want


class TestCusumMeanCentered:
    def test_shifted_series(self, spark):
        import numpy as np
        from osm2geojson_spark.operators.timeseries import cusum_alerts

        # level shift halfway: mean-centered walk peaks at the shift
        vals = [10.0] * 20 + [14.0] * 20
        rows = [("k", i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, i long, v double")
        out = cusum_alerts(df, "key", ["i"], "v", None, 30).collect()
        x = np.array(vals)
        walk = np.cumsum(x - x.mean())
        want = {(i, w) for i, w in enumerate(walk) if abs(w) > 30}
        got = {(r["i"], r["cusum"]) for r in out}
        assert got == want and len(got) > 0


class TestStress:
    def test_path_graph_hand(self, spark):
        from osm2geojson_spark.operators.graph import stress_centrality

        # directed path 0->1->2->3 from source 0: paths through 1:
        # 0-1-2, 0-1-2-3 => 2; through 2: 0-1-2-3 => 1; 3 interior of
        # nothing
        e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
        out = {r["node"]: r["stress"]
               for r in stress_centrality(e, [0]).collect()}
        assert out == {1: 2, 2: 1}

    def test_diamond_sigma(self, spark):
        from osm2geojson_spark.operators.graph import stress_centrality

        # diamond 0->{1,2}->3->4: sigma(3)=2; through 3: 2 paths to 4
        # => sigma*P = 2*1 = 2; through 1: paths 0-1-3, 0-1-3-4 => 2
        e = _edges(spark, [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)])
        out = {r["node"]: r["stress"]
               for r in stress_centrality(e, [0]).collect()}
        assert out == {1: 2, 2: 2, 3: 2, 4: 0} or out == {1: 2, 2: 2,
                                                          3: 2}

    def test_pyref_parity(self, spark):
        from osm2geojson_spark import pyref
        from osm2geojson_spark.operators.graph import stress_centrality

        g = pyref.hash_graph(29, 80)
        srcs = [1, 5, 9]
        got = sorted(
            (r["node"], r["stress"])
            for r in stress_centrality(_edges(spark, g), srcs).collect())
        assert got == pyref.ref_stress(g, srcs)


class TestOhlc:
    def test_hand_bars(self, spark):
        from osm2geojson_spark.operators.timeseries import ohlc_bars

        rows = [("k", 0, 10, 5.0), ("k", 0, 11, 9.0), ("k", 0, 12, 2.0),
                ("k", 1, 13, 7.0)]
        df = spark.createDataFrame(
            rows, "key string, day long, okey long, v double")
        out = {r["bucket"]: r for r in ohlc_bars(
            df, "key", "okey", "v", "day").collect()}
        b0 = out[0]
        assert (b0["open"], b0["high"], b0["low"], b0["close"],
                b0["n"]) == (5.0, 9.0, 2.0, 2.0, 3)
        assert out[1]["open"] == out[1]["close"] == 7.0


class TestKendall:
    @staticmethod
    def _brute(rows):
        p = q = txo = tyo = txy = 0
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                (xa, ya), (xb, yb) = rows[i], rows[j]
                if xa == xb and ya == yb:
                    txy += 1
                elif xa == xb:
                    txo += 1
                elif ya == yb:
                    tyo += 1
                elif (xa < xb) == (ya < yb):
                    p += 1
                else:
                    q += 1
        return p, q, txo, tyo, txy

    def _check(self, spark, rows, blocks):
        from osm2geojson_spark.operators.stats import kendall_tau

        df = spark.createDataFrame(
            [(int(x), int(y)) for x, y in rows], "x long, y long")
        with owned(spark):
            got = kendall_tau(df, "x", "y", blocks=blocks).collect()[0]
        p, q, txo, tyo, txy = self._brute(rows)
        assert (got["n"], got["p"], got["q"], got["tx_only"],
                got["ty_only"], got["txy"]) == (len(rows), p, q,
                                                txo, tyo, txy)
        return got

    def test_tie_heavy_vs_brute_force(self, spark):
        # deterministic hash series with heavy ties in BOTH columns and
        # repeated cells (txy > 0); block count smaller than, equal to
        # and larger than the distinct-value count all agree
        rows = [((i * 37 + 11) % 7, (i * 101 + 5) % 9) for i in range(80)]
        got = self._check(spark, rows, blocks=4)
        assert got["txy"] > 0 and got["tx_only"] > 0
        for blocks in (1, 9, 64):
            self._check(spark, rows, blocks=blocks)

    def test_perfect_orders(self, spark):
        got = self._check(spark, [(i, i * 2) for i in range(25)], 4)
        assert got["tau_b"] == 1.0
        got = self._check(spark, [(i, -i) for i in range(25)], 4)
        assert got["tau_b"] == -1.0

    def test_degenerate_constant_column(self, spark):
        got = self._check(spark, [(1, i) for i in range(10)], 4)
        assert got["tau_b"] is None and got["tx_only"] == 45

    def test_mann_kendall_collapses_duplicate_instants(self, spark):
        # rising series with one duplicated timestamp: MK must collapse
        # to min value per instant, then S over the 5 unique times
        from osm2geojson_spark.operators.stats import mann_kendall

        df = spark.createDataFrame(
            [(0, 3), (1, 5), (2, 7), (2, 100), (3, 7), (4, 9)],
            "t long, v long")
        got = mann_kendall(df, "t", "v").collect()[0]
        # series: (0,3)(1,5)(2,7)(3,7)(4,9): p=9, q=0, s=9
        assert got["n"] == 5 and got["s"] == 9
        # var18 = 5*4*15 - one tie pair (g=2): 2*1*9 = 282
        assert got["var18"] == 300 - 18
        import math
        assert got["z"] == (9.0 - 1.0) / math.sqrt(282.0 / 18.0)


class TestGetisGiStar:
    def test_vs_numpy_padded_reference(self, spark):
        # hash-valued 16x16 raster in 4 tiles: z must equal the padded
        # single-array reference at every pixel (different substrate
        # than the closed-form DEM the catalog oracle uses)
        import math

        import numpy as np

        from osm2geojson_spark.spatial.autocorr import getis_gi_star

        t, nt = 8, 2
        side = t * nt
        grid = np.array([[(x * 31 + y * 57) % 23 + ((x * x + y) % 5)
                          for x in range(side)] for y in range(side)],
                        dtype=np.int64)
        rows = []
        for ty in range(nt):
            for tx in range(nt):
                tile = grid[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
                rows.append((tx, ty, [int(v) for v in tile.ravel()]))
        tiles = spark.createDataFrame(
            rows, "tx long, ty long, data array<long>")
        with owned(spark):
            got = {(r["x"], r["y"]): (r["wx"], r["a"], r["z"])
                   for r in getis_gi_star(tiles, t).collect()}

        pad = np.pad(grid, 1, mode="edge")
        n = side * side
        s = int(grid.sum())
        q = int((grid.astype(object) ** 2).sum())
        assert len(got) == n
        for y in range(side):
            for x in range(side):
                wx = int(pad[y:y + 3, x:x + 3].sum())
                a = n * wx - 9 * s
                z = a / math.sqrt((n * q - s * s) * (9 * n - 81) / (n - 1))
                gwx, ga, gz = got[(x, y)]
                assert (gwx, ga) == (wx, a), (x, y)
                assert gz == pytest.approx(z, rel=1e-12), (x, y)

    def test_constant_raster_null_z(self, spark):
        from osm2geojson_spark.spatial.autocorr import getis_gi_star

        tiles = spark.createDataFrame(
            [(0, 0, [7] * 16)], "tx long, ty long, data array<long>")
        with owned(spark):
            rows = getis_gi_star(tiles, 4).collect()
        assert all(r["z"] is None for r in rows)


class TestEccentricity:
    def test_weighted_path_graph(self, spark):
        # path 0-1-2-3 with weights 2,3,5 (both directions):
        # ecc(0)=10, ecc(3)=10, diam_lb=10
        from osm2geojson_spark.operators.graph import eccentricity_sample

        edges = spark.createDataFrame(
            [(0, 1, 2), (1, 0, 2), (1, 2, 3), (2, 1, 3),
             (2, 3, 5), (3, 2, 5)], "src long, dst long, w long")
        got = {r["src"]: (r["n_reached"], r["ecc"], r["diam_lb"])
               for r in eccentricity_sample(edges, [0, 3]).collect()}
        assert got == {0: (4, 10, 10), 3: (4, 10, 10)}


class TestLcssEdr:
    def test_hand_cases(self):
        from osm2geojson_spark.spatial.dtw import edr_int, lcss_int

        a = [(0, 0), (10, 0), (20, 0)]
        # identical: full match, zero edits
        assert lcss_int(a, a, 0) == 3 and edr_int(a, a, 0) == 0
        # disjoint beyond eps: no matches; EDR = max len
        b = [(1000, 1000), (2000, 1000)]
        assert lcss_int(a, b, 4) == 0 and edr_int(a, b, 4) == 3
        # partial: b shares the middle point within eps=1 (sq dist 1)
        c = [(10, 1), (999, 999)]
        assert lcss_int(a, c, 1) == 1
        assert edr_int(a, c, 1) == 2  # match 1, sub/del the rest

    def test_invariants_vs_pyref_corpus(self, spark):
        # engine pairs == pyref + structural invariants on every pair
        from osm2geojson_spark import pyref

        rows = pyref.ref_traj_lcss(12, 10, 3, 30_000_000_000)
        for _a, _b, ll, ppm, ed in rows:
            assert 0 <= ll <= 10 and ppm == ll * 1_000_000 // 10
            assert max(0, 10 - ll) <= ed <= 20 - 2 * ll


class TestGeoMosaic:
    def test_overlap_mean_and_tile_straddle(self, spark):
        # two solid 16x16 thumbs at (504,504) and (512,512): the first
        # straddles 4 tiles at t=128; the 8x8 overlap must be the exact
        # integer mean (100+51)//2 = 75
        import hashlib

        import numpy as np

        from osm2geojson_spark.operators.images import geo_mosaic
        from osm2geojson_spark.synth.images import encode_ppm

        def row(iid, val, lon, lat):
            px = np.full((16, 16, 3), val, dtype=np.uint8)
            return (iid, bytearray(encode_ppm(px)), 16, 16, "ppm",
                    float(lon), float(lat))

        # px0 = floor((lon+180)/360*1024); 504 -> lon=-2.8125 (exact),
        # 512 -> lon=0.0; py0 = floor((85-lat)/170*1024);
        # 504 -> lat=1.328125, 512 -> lat=0.0
        df = spark.createDataFrame(
            [row("a", 100, -2.8125, 1.328125), row("b", 51, 0.0, 0.0)],
            "image_id string, bytes binary, w int, h int, fmt string,"
            " lon double, lat double")
        out = geo_mosaic(df, world_px=1024, tile=128, thumb=16)
        got = {(r["tx"], r["ty"]): r for r in out.collect()}
        # thumb A straddles tiles (3,3),(4,3),(3,4),(4,4); B only (4,4)
        assert set(got) == {(3, 3), (4, 3), (3, 4), (4, 4)}
        assert got[(4, 4)]["n_contrib"] == 2
        # rebuild tile (4,4) expected canvas and compare md5
        canvas = np.zeros((128, 128, 3), dtype=np.int64)
        cnt = np.zeros((128, 128, 1), dtype=np.int64)
        canvas[0:8, 0:8] += 100   # A clip: world rows/cols 512..519
        cnt[0:8, 0:8] += 1
        canvas[0:16, 0:16] += 51  # B: 512..527
        cnt[0:16, 0:16] += 1
        exp = np.where(cnt > 0, canvas // np.maximum(cnt, 1), 0) \
            .astype(np.uint8)
        assert exp[0, 0, 0] == 75 and exp[8, 8, 0] == 51
        assert got[(4, 4)]["md5"] == hashlib.md5(
            encode_ppm(exp)).hexdigest()


class TestKruskal:
    def test_hand_case_no_ties(self, spark):
        from osm2geojson_spark.operators.stats import kruskal_wallis

        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3), ("b", 4)],
            "g string, v long")
        got = kruskal_wallis(df, "v", "g").collect()[0]
        # R_a=3, R_b=7 -> H = 12/20*(9/2+49/2) - 15 = 2.4; no ties
        assert (got["n"], got["k"], got["tie3"]) == (4, 2, 0)
        assert got["sum_t"] == 29.0
        assert got["h"] == pytest.approx(2.4, abs=1e-12)
        assert got["h_adj"] == got["h"]

    def test_hand_case_with_ties(self, spark):
        from osm2geojson_spark.operators.stats import kruskal_wallis

        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 2)], "g string, v long")
        got = kruskal_wallis(df, "v", "g").collect()[0]
        # mid-ranks 1.5,1.5,3 -> H = 1.5; tie3 = 6, C = 0.75 -> 2.0
        assert got["tie3"] == 6
        assert got["h"] == pytest.approx(1.5, abs=1e-12)
        assert got["h_adj"] == pytest.approx(2.0, abs=1e-12)

    def test_all_tied_null(self, spark):
        from osm2geojson_spark.operators.stats import kruskal_wallis

        df = spark.createDataFrame(
            [("a", 5), ("b", 5), ("b", 5)], "g string, v long")
        got = kruskal_wallis(df, "v", "g").collect()[0]
        assert got["h_adj"] is None


class TestCompactionPlan:
    def test_real_manifest_bounds(self, spark, tmp_path):
        # plan over a REAL IcebergLikeTable manifest: groups cover every
        # file exactly once; every group except possibly the last per
        # partition starts inside its offset window
        from pyspark.sql import functions as SF

        from osm2geojson_spark.plans.iceberg_layout import (
            IcebergLikeTable,
            plan_compaction_groups,
        )

        tbl = IcebergLikeTable(str(tmp_path / "t"))
        df = spark.range(2000).select(
            SF.col("id"), (SF.col("id") % 4).alias("bucket"))
        for _ in range(3):  # three appends -> many small files
            tbl.append(df, partition_by="bucket")
        import os

        entries = tbl._entries()
        sizes = {e["path"]: os.path.getsize(
            os.path.join(str(tmp_path / "t"), e["path"]))
            for e in entries}
        manifest = spark.createDataFrame(
            [(str(e.get("partition", "")), e["path"], sizes[e["path"]])
             for e in entries],
            "part string, file string, bytes long")
        biggest = max(sizes.values())
        target = 3 * biggest
        plan = plan_compaction_groups(manifest, target).collect()
        assert sum(r["n_files"] for r in plan) == len(entries)
        for r in plan:
            # offset-bucketing bound: group input <= target + one file
            assert r["group_bytes"] <= target + biggest
        assert any(r["n_files"] > 1 for r in plan)


class TestHarmonic:
    def test_weighted_path_graph(self, spark):
        from osm2geojson_spark.operators.graph import harmonic_centrality

        edges = spark.createDataFrame(
            [(0, 1, 2), (1, 0, 2), (1, 2, 3), (2, 1, 3)],
            "src long, dst long, w long")
        got = {r["src"]: (r["n_reached"], r["harmonic"])
               for r in harmonic_centrality(edges, [0, 1]).collect()}
        # d(0,·) = {0,2,5} -> 1/2 + 1/5; d(1,·) = {0,2,3} -> 1/2 + 1/3
        assert got[0][0] == 3 and got[0][1] == pytest.approx(0.7, abs=1e-15)
        assert got[1][1] == pytest.approx(0.5 + 1.0 / 3.0, abs=1e-15)


class TestSeasonalDecompose:
    def test_pure_seasonal_series(self, spark):
        # v = phase lookup on a complete grid: trend == phase-mean
        # everywhere the window is complete; resid == 0 exactly
        from osm2geojson_spark.operators.timeseries import (
            seasonal_decompose,
        )

        pat = [10, 20, 30, 40]
        rows = [("k", t, pat[t % 4]) for t in range(40)]
        df = spark.createDataFrame(rows, "key string, t long, v long")
        out = seasonal_decompose(df, "key", "t", "v",
                                 period=4, half=2).collect()
        mean = sum(pat) / len(pat)
        for r in out:
            if r["wn"] == 5:
                # 5-point centered window over a period-4 pattern
                # double counts the edge phase (t+2) % 4
                assert r["trend"] == \
                    (sum(pat) + pat[(r["t"] + 2) % 4]) / 5.0
            else:
                assert r["trend"] is None
        # seasonal + trend reconstructs v on complete windows:
        # resid = v - trend - seasonal must be 0 for this exact pattern
        for r in out:
            if r["resid"] is not None:
                assert r["v"] - r["trend"] - r["seasonal"] == \
                    pytest.approx(r["resid"], abs=1e-12)
        _ = mean

    def test_gap_shrinks_window(self, spark):
        from osm2geojson_spark.operators.timeseries import (
            seasonal_decompose,
        )

        rows = [("k", t, 5) for t in range(20) if t != 10]
        df = spark.createDataFrame(rows, "key string, t long, v long")
        out = {r["t"]: r for r in seasonal_decompose(
            df, "key", "t", "v", period=4, half=2).collect()}
        # neighbors of the gap have wn=4 -> NULL trend
        assert out[9]["wn"] == 4 and out[9]["trend"] is None
        assert out[5]["wn"] == 5 and out[5]["trend"] == 5.0


class TestArealInterp:
    def test_hand_case(self, spark):
        # one 10x10 source (val 100) split half/quarter onto two targets
        from osm2geojson_spark.spatial.overlap import (
            rect_areal_interpolate,
        )

        src = spark.createDataFrame(
            [(1, 0, 0, 10, 10, 100)],
            "sid long, x0 long, y0 long, x1 long, y1 long, val long")
        tgt = spark.createDataFrame(
            [(7, 0, 0, 5, 10), (8, 5, 0, 10, 5), (9, 50, 50, 60, 60)],
            "tid long, x0 long, y0 long, x1 long, y1 long")
        got = {r["tid"]: r for r in
               rect_areal_interpolate(src, tgt, res=8).collect()}
        assert got[7]["est"] == 50.0 and got[7]["wsum_area"] == 50
        assert got[8]["est"] == 25.0
        assert 9 not in got  # disjoint target receives nothing

    def test_cell_cover_superset(self, spark):
        # rects straddling many cells still pair exactly once
        from osm2geojson_spark.spatial.overlap import (
            rect_areal_interpolate,
        )

        src = spark.createDataFrame(
            [(1, 0, 0, 100, 100, 7)],
            "sid long, x0 long, y0 long, x1 long, y1 long, val long")
        tgt = spark.createDataFrame(
            [(2, 50, 50, 150, 150)],
            "tid long, x0 long, y0 long, x1 long, y1 long")
        got = rect_areal_interpolate(src, tgt, res=16).collect()
        assert len(got) == 1 and got[0]["n_src"] == 1
        assert got[0]["wsum_area"] == 2500
        assert got[0]["est"] == 7.0 * 2500 / 10000

    def test_inverted_target_excluded(self, spark):
        # x1 < x0 and y1 < y0 passes the bbox predicate, and its two
        # negative extents multiply to a positive "intersection"
        from osm2geojson_spark.spatial.overlap import (
            rect_areal_interpolate,
        )

        src = spark.createDataFrame(
            [(1, 0, 0, 20, 20, 40)],
            "sid long, x0 long, y0 long, x1 long, y1 long, val long")
        tgt = spark.createDataFrame(
            [(7, 0, 0, 10, 10), (8, 10, 10, 5, 5)],
            "tid long, x0 long, y0 long, x1 long, y1 long")
        got = {r["tid"]: r for r in
               rect_areal_interpolate(src, tgt, res=8).collect()}
        assert set(got) == {7}
        assert got[7]["wsum_area"] == 100 and got[7]["est"] == 10.0


class TestEffectiveDiameter:
    def test_path_graph_p90(self, spark):
        from osm2geojson_spark.operators.graph import effective_diameter

        # path 0-1-...-4, unit weights, sources {0}: dists 0,1,2,3,4
        edges = spark.createDataFrame(
            [(i, i + 1, 1) for i in range(4)]
            + [(i + 1, i, 1) for i in range(4)],
            "src long, dst long, w long")
        got = effective_diameter(edges, [0]).collect()[0]
        # k = ceil(0.9*5) = 5 -> the max distance 4
        assert (got["n_pairs"], got["k"], got["eff_diam"]) == (5, 5, 4)
        got = effective_diameter(edges, [0], p_ppm=500_000).collect()[0]
        # k = ceil(2.5) = 3 -> distance 2 (median)
        assert (got["k"], got["eff_diam"]) == (3, 2)

    def test_p_outside_unit_interval_rejected(self):
        from osm2geojson_spark.operators.graph import effective_diameter

        # rank k = 0 would match no histogram row
        for p in (0, 1_000_001):
            with pytest.raises(ValueError):
                effective_diameter(None, [0], p_ppm=p)


class TestMosaicPyramid:
    def test_level_structure(self, spark):
        from osm2geojson_spark.operators.images import mosaic_pyramid
        from osm2geojson_spark.synth.images import (
            FMTS_TIFF,
            images_table,
        )

        imgs = images_table(spark, n=60, seed=42, fmts=FMTS_TIFF)
        rows = mosaic_pyramid(imgs, world_px=512, tile=64, thumb=16,
                              levels=3).collect()
        by_level = {}
        for r in rows:
            by_level.setdefault(r["level"], set()).add((r["tx"], r["ty"]))
        assert set(by_level) == {0, 1, 2}
        # every level-L+1 tile set is exactly the parents of level L
        for lvl in (0, 1):
            parents = {(tx // 2, ty // 2) for tx, ty in by_level[lvl]}
            assert parents == by_level[lvl + 1]


class TestDiversity:
    def test_hand_case(self, spark):
        from osm2geojson_spark.operators.profile import diversity_profile

        df = spark.createDataFrame(
            [("a", "x"), ("a", "y"), ("b", "y"), ("b", "y"), (None, "y")],
            "c1 string, c2 string")
        got = {r["col"]: r for r in
               diversity_profile(df, ["c1", "c2"]).collect()}
        # c1: counts 2,2,1 -> pp = 2+2+0 = 4; D = 4e6 // 20 = 200000
        assert got["c1"]["n_cat"] == 3 and got["c1"]["d_ppm"] == 200000
        assert got["c1"]["gs_ppm"] == 800000
        # c2: counts 4,1 -> pp = 12; D = 12e6 // 20 = 600000
        assert got["c2"]["dom_n"] == 4 and got["c2"]["d_ppm"] == 600000

    def test_constant_column_zero_diversity(self, spark):
        from osm2geojson_spark.operators.profile import diversity_profile

        df = spark.createDataFrame([("k",)] * 7, "c string")
        r = diversity_profile(df, ["c"]).collect()[0]
        assert r["d_ppm"] == 1000000 and r["gs_ppm"] == 0


class TestRandomizationTest:
    def test_planted_shift_detected_and_null_not(self, spark):
        from osm2geojson_spark.operators.stats import randomization_test

        def series(shift):
            return spark.range(300).selectExpr(
                "CASE WHEN ((id * 7) % 10) < 4 THEN 'a' ELSE 'b' END"
                " AS g",
                f"(((id * 2654435761) % 100) + ((id % 13) * 3))"
                f" + (CASE WHEN ((id * 7) % 10) < 4 THEN {shift}"
                " ELSE 0 END) AS v",
                "id AS rid")

        hot = randomization_test(series(80), "g", "a", "b", "v",
                                 "rid", k=99).collect()[0]
        assert hot["k_valid"] == 99 and hot["p"] == 1.0 / 100.0
        null = randomization_test(series(0), "g", "a", "b", "v",
                                  "rid", k=99).collect()[0]
        assert null["p"] > 0.1  # no effect -> not significant

    def test_matches_pyref_twin(self, spark):
        from osm2geojson_spark import pyref
        from osm2geojson_spark.operators.stats import randomization_test

        df = spark.range(200).selectExpr(
            "CASE WHEN ((id * 7) % 10) < 4 THEN 'a' ELSE 'b' END AS g",
            "(((id * 2654435761) % 1000) + ((id % 13) * 3))"
            " + (CASE WHEN ((id * 7) % 10) < 4 THEN 150 ELSE 0 END)"
            " AS v",
            "id AS rid")
        got = randomization_test(df, "g", "a", "b", "v", "rid",
                                 k=99).collect()[0]
        want = pyref.ref_randomization_test(n=200, k=99)[0]
        assert tuple(got) == want


class TestGini:
    def test_hand_cases(self, spark):
        from osm2geojson_spark.operators.stats import gini_coefficient

        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 8), ("b", 5), ("b", 5)],
            "g string, v long")
        got = {r["g"]: r for r in
               gini_coefficient(df, "v", "g").collect()}
        # [1,1,8]: mean-abs-diff Gini = 28/60
        assert got["a"]["gini"] == pytest.approx(28.0 / 60.0, abs=1e-15)
        # equal values -> 0
        assert got["b"]["gini"] == 0.0

    def test_global_ungrouped(self, spark):
        from osm2geojson_spark.operators.stats import gini_coefficient

        df = spark.createDataFrame([(v,) for v in (0, 0, 0, 10)],
                                   "v long")
        r = gini_coefficient(df, "v").collect()[0]
        # one holder of everything among 4 -> G = (n-1)/n = 0.75
        assert r["gini"] == pytest.approx(0.75, abs=1e-15)


class TestLorenzMad:
    def test_lorenz_hand_case(self, spark):
        from osm2geojson_spark.operators.stats import lorenz_curve

        # values 1,1,8 (the gini test distribution)
        df = spark.createDataFrame([(1,), (1,), (8,)], "v long")
        got = {r["p_pct"]: r for r in
               lorenz_curve(df, "v", pcts=[34, 67, 100]).collect()}
        # k = ceil(.34*3)=2 -> cum 2/10; ceil(.67*3)=3 -> 10/10
        assert got[34]["k"] == 2 and got[34]["cum_v"] == 2
        assert got[34]["value_share"] == 0.2
        assert got[67]["k"] == 3 and got[67]["cum_v"] == 10
        assert got[100]["cum_v"] == 10

    def test_median_mad_hand_case(self, spark):
        from osm2geojson_spark.operators.stats import median_mad

        # values 1,2,4,100: low-median 2; |v-2| = 1,0,2,98 -> mad 1
        df = spark.createDataFrame([(1,), (2,), (4,), (100,)], "v long")
        r = median_mad(df, "v").collect()[0]
        assert (r["n"], r["median"], r["mad"]) == (4, 2, 1)


class TestDagLayers:
    def test_diamond_and_chain(self, spark):
        from osm2geojson_spark.operators.graph import dag_layers

        # diamond 0->{1,2}->3 plus chain 3->4->5: longest-path layers
        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
            "src long, dst long")
        got = {r["node"]: r["layer"] for r in dag_layers(edges).collect()}
        assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 4}

    def test_cycle_raises(self, spark):
        from osm2geojson_spark.operators.graph import dag_layers

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long")
        with pytest.raises(ValueError, match="cycle"):
            dag_layers(edges)


class TestIntervalCoverage:
    def test_hand_profile(self, spark):
        from osm2geojson_spark.operators.ranges import interval_coverage

        # [0,10), [5,15), [5,8): breakpoints 0,5,8,10,15
        iv = spark.createDataFrame(
            [("k", 0, 10), ("k", 5, 15), ("k", 5, 8)],
            "key string, s long, e long")
        got = {r["t"]: (r["t_next"], r["cov"]) for r in
               interval_coverage(iv, "key", "s", "e").collect()}
        assert got == {0: (5, 1), 5: (8, 3), 8: (10, 2),
                       10: (15, 1), 15: (None, 0)}


class TestRunsTest:
    def test_hand_sequences(self, spark):
        import math

        from osm2geojson_spark.operators.stats import runs_test

        def seq(flags):
            return spark.createDataFrame(
                [(i, bool(f)) for i, f in enumerate(flags)],
                "o long, f boolean")

        # perfectly alternating: max runs
        r = runs_test(seq([1, 0, 1, 0, 1, 0]), "o", "f").collect()[0]
        assert (r["n"], r["n1"], r["runs"]) == (6, 3, 6)
        mu = 2.0 * 3 * 3 / 6 + 1.0
        var = (2.0 * 3 * 3) * (2.0 * 3 * 3 - 6) / (36.0 * 5.0)
        assert r["z"] == pytest.approx((6 - mu) / math.sqrt(var),
                                       rel=1e-12)
        # fully clumped: 2 runs
        r = runs_test(seq([1, 1, 1, 0, 0, 0]), "o", "f").collect()[0]
        assert r["runs"] == 2 and r["z"] < 0
        # degenerate one-class
        r = runs_test(seq([1, 1, 1]), "o", "f").collect()[0]
        assert r["z"] is None and r["runs"] == 1


class TestWeightedMedianMode:
    def test_weighted_median_hand(self, spark):
        from osm2geojson_spark.operators.stats import weighted_median

        # values 1(w=1), 2(w=1), 3(w=10): half of 12 -> 6 -> wmed 3
        df = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 10)], "v long, w long")
        r = weighted_median(df, "v", "w").collect()[0]
        assert (r["n"], r["w_total"], r["wmed"]) == (3, 12, 3)

    def test_group_mode_tie_rule(self, spark):
        from osm2geojson_spark.operators.stats import group_mode

        df = spark.createDataFrame(
            [("k", "b"), ("k", "b"), ("k", "a"), ("k", "a"),
             ("j", "z")], "g string, v string")
        got = {r["key"]: (r["mode"], r["mode_n"]) for r in
               group_mode(df, "g", "v").collect()}
        assert got == {"k": ("a", 2), "j": ("z", 1)}


class TestTrimmedMean:
    def test_hand_case(self, spark):
        from osm2geojson_spark.operators.stats import trimmed_mean

        # 10 values 1..9 + 1000; trim 10% -> drop min (1) and max
        # (1000): kept 2..9 -> mean 5.5
        df = spark.createDataFrame(
            [(v,) for v in list(range(1, 10)) + [1000]], "v long")
        r = trimmed_mean(df, "v", trim_ppm=100_000).collect()[0]
        assert (r["n"], r["k"], r["kept_n"]) == (10, 1, 8)
        assert r["kept_sum"] == sum(range(2, 10))
        assert r["tmean"] == 5.5

    def test_zero_trim_is_plain_mean(self, spark):
        from osm2geojson_spark.operators.stats import trimmed_mean

        df = spark.createDataFrame([(2,), (4,), (9,)], "v long")
        r = trimmed_mean(df, "v", trim_ppm=0).collect()[0]
        assert r["kept_sum"] == 15 and r["tmean"] == 5.0

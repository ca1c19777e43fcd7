"""As-of join (operators/asof.py) — semantics vs hand-computed rows and
pandas.merge_asof, plus the no-explosion plan pin."""

import datetime as dt

import pandas as pd
import pytest

from dtaidistance_spark.operators.asof import asof_join


def _ts(h, m=0):
    return dt.datetime(2026, 1, 1, h, m)


@pytest.fixture()
def frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(9, 30), 10.0),   # before any right row for key 1
         (1, _ts(10, 0), 11.0),   # equal-ts: inclusive match
         (1, _ts(12, 45), 12.0),  # skips back over the 11:00 gap
         (2, _ts(10, 5), 20.0),   # key with one right row
         (3, _ts(10, 0), 30.0)],  # key absent from right
        "k long, ts timestamp, lv double")
    right = spark.createDataFrame(
        [(1, _ts(10, 0), 100.0),
         (1, _ts(12, 0), 120.0),
         (2, _ts(10, 0), 200.0)],
        "k long, ts timestamp, rv double")
    return left, right


class TestAsofJoin:
    def test_backward_inner(self, spark, frames):
        left, right = frames
        got = (asof_join(left, right, on="k", how="inner")
               .orderBy("k", "ts").toPandas())
        # key 1 @9:30 has no match and is dropped; @10:00 matches the
        # equal-ts row; @12:45 matches 12:00; key 3 dropped
        assert [(r.k, r.lv, r.rv) for r in got.itertuples()] == [
            (1, 11.0, 100.0), (1, 12.0, 120.0), (2, 20.0, 200.0)]
        assert got["ts_r"].tolist() == [_ts(10), _ts(12), _ts(10)]

    def test_backward_left_keeps_unmatched(self, spark, frames):
        left, right = frames
        got = (asof_join(left, right, on="k", how="left")
               .orderBy("k", "ts").toPandas())
        assert len(got) == 5
        unmatched = got[got["rv"].isna()]
        assert sorted(zip(unmatched["k"], unmatched["lv"])) == \
            [(1, 10.0), (3, 30.0)]

    def test_forward(self, spark, frames):
        left, right = frames
        got = (asof_join(left, right, on="k", direction="forward",
                         how="inner").orderBy("k", "ts").toPandas())
        # @9:30 -> 10:00 (earliest >=), @10:00 -> equal-ts inclusive,
        # @12:45 -> none; key 2 @10:05 -> none; key 3 none
        assert [(r.k, r.lv, r.rv) for r in got.itertuples()] == [
            (1, 10.0, 100.0), (1, 11.0, 100.0)]

    def test_tolerance(self, spark, frames):
        from pyspark.sql import functions as F

        left, right = frames
        got = (asof_join(left, right, on="k",
                         tolerance=F.expr("INTERVAL 1 HOUR"), how="inner")
               .orderBy("k", "ts").toPandas())
        # the 12:45 -> 12:00 gap (45 min) passes; 10:00 equal-ts (0) and
        # 10:05 -> 10:00 (5 min) pass; nothing farther than 1 h exists
        assert len(got) == 3
        got0 = (asof_join(left, right, on="k",
                          tolerance=F.expr("INTERVAL 10 MINUTES"),
                          how="inner").toPandas())
        assert len(got0) == 2  # 12:45 match nulled -> dropped

    def test_matches_pandas_merge_asof(self, spark, rng):
        # randomized cross-check on a bigger frame
        n_l, n_r = 400, 150
        lp = pd.DataFrame({
            "k": rng.integers(0, 5, n_l),
            "ts": pd.to_datetime(rng.integers(0, 10_000, n_l), unit="s"),
            "lv": rng.normal(size=n_l)})
        rp = pd.DataFrame({
            "k": rng.integers(0, 5, n_r),
            "ts": pd.to_datetime(rng.integers(0, 10_000, n_r), unit="s"),
            "rv": rng.normal(size=n_r)})
        rp = rp.drop_duplicates(["k", "ts"])  # unique (key, ts) contract
        want = pd.merge_asof(
            lp.sort_values("ts"), rp.sort_values("ts"),
            on="ts", by="k", direction="backward",
            suffixes=("", "_r")).dropna(subset=["rv"])
        got = (asof_join(spark.createDataFrame(lp),
                         spark.createDataFrame(rp), on="k", how="inner")
               .toPandas())
        a = got.sort_values(["k", "ts", "lv"]).reset_index(drop=True)
        b = want.sort_values(["k", "ts", "lv"]).reset_index(drop=True)
        assert len(a) == len(b)
        pd.testing.assert_series_equal(a["rv"], b["rv"], check_names=False)

    def test_plan_no_join_single_exchange(self, spark, frames):
        # the union+window plan must contain NO join operator (no range
        # explosion to collapse) and exactly one hash exchange (the
        # window's partitionBy) above the two scans
        left, right = frames
        plan = (asof_join(left, right, on="k")._jdf.queryExecution()
                .executedPlan().toString())
        for bad in ("SortMergeJoin", "BroadcastHashJoin",
                    "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert bad not in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestAsofNearest:
    def test_nearest_hand_rows(self, spark, frames):
        left, right = frames
        got = (asof_join(left, right, on="k", direction="nearest",
                         how="inner").orderBy("k", "ts").toPandas())
        # 9:30 -> 10:00 (only forward exists, gap 30m); 10:00 -> exact;
        # 12:45 -> 12:00 (backward 45m beats nothing forward);
        # 2@10:05 -> 10:00; 3 -> no match dropped
        assert [(r.k, r.lv, r.rv) for r in got.itertuples()] == [
            (1, 10.0, 100.0), (1, 11.0, 100.0), (1, 12.0, 120.0),
            (2, 20.0, 200.0)]

    def test_nearest_tie_prefers_backward(self, spark):
        left = spark.createDataFrame([(1, 10, 0.0)], "k long, ts long, lv double")
        right = spark.createDataFrame([(1, 8, 1.0), (1, 12, 2.0)],
                                      "k long, ts long, rv double")
        got = asof_join(left, right, on="k", direction="nearest").toPandas()
        assert got["rv"].tolist() == [1.0]  # equidistant -> backward

    def test_nearest_matches_pandas(self, spark, rng):
        # right ts on multiples of 10, left ts ≡ 3 (mod 10): backward and
        # forward gaps are never equal, so no tie-rule dependence
        n_l, n_r = 300, 120
        lp = pd.DataFrame({
            "k": rng.integers(0, 4, n_l),
            "ts": pd.to_datetime(rng.integers(0, 1000, n_l) * 10 + 3,
                                 unit="s"),
            "lv": rng.normal(size=n_l)})
        rp = pd.DataFrame({
            "k": rng.integers(0, 4, n_r),
            "ts": pd.to_datetime(rng.integers(0, 1000, n_r) * 10,
                                 unit="s"),
            "rv": rng.normal(size=n_r)}).drop_duplicates(["k", "ts"])
        want = pd.merge_asof(
            lp.sort_values("ts"), rp.sort_values("ts"),
            on="ts", by="k", direction="nearest",
            suffixes=("", "_r")).dropna(subset=["rv"])
        got = (asof_join(spark.createDataFrame(lp),
                         spark.createDataFrame(rp), on="k",
                         direction="nearest", how="inner").toPandas())
        a = got.sort_values(["k", "ts", "lv"]).reset_index(drop=True)
        b = want.sort_values(["k", "ts", "lv"]).reset_index(drop=True)
        assert len(a) == len(b)
        pd.testing.assert_series_equal(a["rv"], b["rv"], check_names=False)

    def test_nearest_tolerance_and_plan(self, spark, frames):
        from pyspark.sql import functions as F

        left, right = frames
        got = (asof_join(left, right, on="k", direction="nearest",
                         tolerance=F.expr("INTERVAL 10 MINUTES"),
                         how="inner").toPandas())
        # only the exact 10:00 match and 2@10:05 survive a 10-min gap cap
        assert sorted(got["lv"]) == [11.0, 20.0]
        plan = (asof_join(left, right, on="k", direction="nearest")
                ._jdf.queryExecution().executedPlan().toString())
        for bad in ("SortMergeJoin", "BroadcastHashJoin",
                    "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert bad not in plan
        assert plan.count("Exchange hashpartitioning") == 1  # shared


class TestIntervalOverlapJoin:
    """operators/asof.py::interval_overlap_join — bucketized
    equi-join vs a brute-force nested-loop reference."""

    def test_hand_fixture(self, spark):
        import pandas as pd
        from dtaidistance_spark.operators.asof import interval_overlap_join
        t0 = pd.Timestamp("2024-01-01")

        def ts(m):
            return t0 + pd.Timedelta(minutes=m)
        left = spark.createDataFrame(pd.DataFrame(
            [("a", ts(0), ts(90)),      # spans 2 hourly buckets
             ("b", ts(120), ts(130)),
             ("c", ts(300), ts(360))],
            columns=["lid", "l_start", "l_end"]))
        right = spark.createDataFrame(pd.DataFrame(
            [("X", ts(60), ts(125)),    # overlaps a (30m) and b (5m)
             ("Y", ts(360), ts(420))],  # touches c at the endpoint: NO
            columns=["rid", "r_start", "r_end"]))
        got = (interval_overlap_join(left, right).toPandas()
               .sort_values(["lid", "rid"]).reset_index(drop=True))
        assert [(r["lid"], r["rid"], r["overlap_s"])
                for _, r in got.iterrows()] == [
            ("a", "X", 1800.0), ("b", "X", 300.0)]

    def test_multi_bucket_pair_emitted_once(self, spark):
        import pandas as pd
        from dtaidistance_spark.operators.asof import interval_overlap_join
        t0 = pd.Timestamp("2024-01-01")
        left = spark.createDataFrame(pd.DataFrame(
            [("a", t0, t0 + pd.Timedelta(hours=10))],
            columns=["lid", "l_start", "l_end"]))
        right = spark.createDataFrame(pd.DataFrame(
            [("X", t0 + pd.Timedelta(hours=1),
              t0 + pd.Timedelta(hours=9))],
            columns=["rid", "r_start", "r_end"]))
        got = interval_overlap_join(left, right).toPandas()
        assert len(got) == 1                   # 8 shared buckets, 1 row
        assert got.iloc[0]["overlap_s"] == 8 * 3600.0

    def test_brute_force_parity_random(self, spark):
        import numpy as np
        import pandas as pd
        from dtaidistance_spark.operators.asof import interval_overlap_join
        rng = np.random.default_rng(71)
        t0 = pd.Timestamp("2024-01-01")
        L, R = [], []
        for i in range(40):
            s = int(rng.integers(0, 72 * 3600))
            L.append((f"l{i}", t0 + pd.Timedelta(seconds=s),
                      t0 + pd.Timedelta(
                          seconds=s + int(rng.integers(1, 8 * 3600)))))
        for i in range(30):
            s = int(rng.integers(0, 72 * 3600))
            R.append((f"r{i}", t0 + pd.Timedelta(seconds=s),
                      t0 + pd.Timedelta(
                          seconds=s + int(rng.integers(1, 8 * 3600)))))
        ldf = spark.createDataFrame(
            pd.DataFrame(L, columns=["lid", "l_start", "l_end"]))
        rdf = spark.createDataFrame(
            pd.DataFrame(R, columns=["rid", "r_start", "r_end"]))
        got = {(r["lid"], r["rid"]): r["overlap_s"]
               for _, r in interval_overlap_join(ldf, rdf)
               .toPandas().iterrows()}
        want = {}
        for lid, ls, le_ in L:
            for rid, rs, re_ in R:
                o = (min(le_, re_) - max(ls, rs)).total_seconds()
                if ls < re_ and rs < le_:
                    want[(lid, rid)] = o
        assert got == want

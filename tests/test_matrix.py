"""Distributed distance_matrix ↔ reference parity (block semantics,
condensed ordering, golden fixtures from reference tests/test_dtw.py)."""

import math

import numpy as np
import pytest

from dtaidistance_spark.kernels.dtw import DtwSettings, dtw_distance
from dtaidistance_spark.operators.matrix import (
    condensed_index, distance_matrix, distance_matrix_cross, to_condensed,
    to_matrix, with_index,
)

S6 = [
    [0.0, 0, 1, 2, 1, 0, 1, 0, 0],
    [0.0, 1, 2, 0, 0, 0, 0, 0, 0],
    [1.0, 2, 0, 0, 0, 0, 0, 1, 1],
    [0.0, 0, 1, 2, 1, 0, 1, 0, 0],
    [0.0, 1, 2, 0, 0, 0, 0, 0, 0],
    [1.0, 2, 0, 0, 0, 0, 0, 1, 1],
]


def _series_df(spark, series):
    rows = [(i, [float(x) for x in s]) for i, s in enumerate(series)]
    return spark.createDataFrame(rows, "i long, values array<double>")


class TestCondensedIndex:
    def test_golden_indices(self):
        # reference tests/test_dtw.py:36-50
        assert condensed_index(np.array([3]), np.array([2]), 6)[0] == 9
        assert condensed_index(np.array([0]), np.array([1]), 6)[0] == 0
        assert condensed_index(np.array([4]), np.array([5]), 6)[0] == 14

    def test_matches_reference(self, dtw_oracle):
        n = 7
        for a in range(n):
            for b in range(n):
                if a == b:
                    continue
                got = int(condensed_index(np.array([a]), np.array([b]), n)[0])
                assert got == dtw_oracle.distance_array_index(a, b, n)


class TestDistanceMatrix:
    def test_full_matrix_golden(self, spark, dtw_oracle):
        df = _series_df(spark, S6)
        dist = distance_matrix(df, chunk_size=2)  # accepted, ignored
        m = to_matrix(dist, 6)
        expected = dtw_oracle.distance_matrix(S6)
        for i in range(6):
            for j in range(6):
                if math.isinf(expected[i][j]):
                    assert math.isinf(m[i][j]) or i == j
                else:
                    assert m[i][j] == pytest.approx(expected[i][j], rel=1e-15)

    def test_condensed_ordering(self, spark, dtw_oracle):
        df = _series_df(spark, S6)
        cond = to_condensed(distance_matrix(df), 6)
        expected = dtw_oracle.distance_matrix(S6, compact=True)
        np.testing.assert_allclose(cond, np.asarray(expected), rtol=1e-15)

    def test_block_golden(self, spark, dtw_oracle):
        # reference tests/test_dtw.py:171-191
        block = ((1, 4), (3, 5))
        df = _series_df(spark, S6)
        dist = distance_matrix(df, block=block)
        m = to_matrix(dist, 6, only_triu=True)
        expected = dtw_oracle.distance_matrix(S6, block=block, only_triu=True)
        np.testing.assert_allclose(m, np.asarray(expected), rtol=1e-14)

    def test_block_not_triu(self, spark, dtw_oracle):
        block = ((1, 4), (0, 5), False)
        df = _series_df(spark, S6)
        pdf = distance_matrix(df, block=block).toPandas()
        # full rectangle: rows 1..3 × cols 0..4, including i >= j
        assert len(pdf) == 3 * 5
        for row in pdf.itertuples(index=False):
            expected = dtw_oracle.distance(S6[row.i], S6[row.j])
            assert row.d == pytest.approx(expected, rel=1e-14)

    def test_random_ragged_vs_reference(self, spark, dtw_oracle, rng):
        series = [list(rng.normal(size=int(rng.choice([8, 12, 17])))) for _ in range(15)]
        df = _series_df(spark, series)
        cond = to_condensed(distance_matrix(df), 15)
        expected = np.asarray(dtw_oracle.distance_matrix(series, compact=True))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_settings_window_psi(self, spark, dtw_oracle, rng):
        series = [list(rng.normal(size=12)) for _ in range(8)]
        df = _series_df(spark, series)
        st = DtwSettings(window=3, psi=1)
        cond = to_condensed(distance_matrix(df, settings=st), 8)
        expected = np.asarray(dtw_oracle.distance_matrix(series, compact=True,
                                                         window=3, psi=1))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_max_dist_lb_prefilter(self, spark, dtw_oracle, rng):
        series = [list(rng.normal(size=16)) for _ in range(10)]
        df = _series_df(spark, series)
        st = DtwSettings(max_dist=2.0, window=4)
        cond = to_condensed(distance_matrix(df, settings=st), 10)
        expected = np.asarray(dtw_oracle.distance_matrix(
            series, compact=True, max_dist=2.0, window=4))
        finite = np.isfinite(expected)
        # pruned pairs are inf on both sides; finite pairs match exactly
        np.testing.assert_array_equal(np.isfinite(cond), finite)
        np.testing.assert_allclose(cond[finite], expected[finite], rtol=1e-14)

    def test_max_dist_with_psi_not_prefiltered(self, spark, dtw_oracle, rng):
        """With psi a prefix can be skipped, so LB_Keogh is no lower bound:
        [100, 0, 0, 0] vs zeros has DTW 0 but LB 100."""
        series = [[100.0, 0, 0, 0], [0.0, 0, 0, 0]] + \
            [list(rng.normal(size=4)) for _ in range(6)]
        df = _series_df(spark, series)
        st = DtwSettings(max_dist=1.0, psi=1)
        cond = to_condensed(distance_matrix(df, settings=st), 8)
        expected = np.asarray(dtw_oracle.distance_matrix(
            series, compact=True, max_dist=1.0, psi=1))
        assert cond[0] == 0.0
        finite = np.isfinite(expected)
        np.testing.assert_array_equal(np.isfinite(cond), finite)
        np.testing.assert_allclose(cond[finite], expected[finite], rtol=1e-14)


class TestBlockedPath:
    """Cut the corpus into several broadcast blocks (small inputs fit in
    one) and verify results identical to the one-block run."""

    def test_blocked_equals_broadcast(self, spark, dtw_oracle, rng,
                                      in_blocks):
        series = [list(rng.normal(size=12)) for _ in range(15)]
        df = _series_df(spark, series)
        one = to_condensed(distance_matrix(df), 15)
        # 96 B per series: 4 series per block, K = 4
        cond = in_blocks(4 * 96, lambda: to_condensed(distance_matrix(df),
                                                      15))
        assert np.array_equal(cond, one)
        expected = np.asarray(dtw_oracle.distance_matrix(series, compact=True))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_blocked_block_semantics(self, spark, dtw_oracle, in_blocks):
        block = ((1, 4), (3, 5))
        df = _series_df(spark, S6)
        one = to_matrix(distance_matrix(df, block=block), 6, only_triu=True)
        # the block's 4 series, 72 B each: one per block
        m = in_blocks(72, lambda: to_matrix(distance_matrix(df, block=block),
                                            6, only_triu=True))
        assert np.array_equal(m, one)
        expected = dtw_oracle.distance_matrix(S6, block=block, only_triu=True)
        np.testing.assert_allclose(m, np.asarray(expected), rtol=1e-14)

    def test_blocked_block_rect_and_ndim(self, spark, rng, in_blocks):
        series = [rng.normal(size=(10, 2)) for _ in range(9)]
        df = spark.createDataFrame(
            [(i, s.tolist()) for i, s in enumerate(series)],
            "i long, values array<array<double>>")
        block = ((1, 7), (0, 9), False)

        def run():
            return distance_matrix(df, block=block, window=3).toPandas() \
                .sort_values(["i", "j"]).reset_index(drop=True)

        one = run()
        got = in_blocks(2 * 160, run)
        assert len(got) == 6 * 9
        assert got.equals(one)
        for r in got.itertuples(index=False):
            assert r.d == dtw_distance(series[r.i], series[r.j], window=3)

    def test_repeated_id_rejected(self, spark):
        # a repeated id would keep one of its series and drop the rest
        rows = [(0, [1.0, 2.0]), (1, [2.0, 3.0]), (1, [0.0, 1.0])]
        df = spark.createDataFrame(rows, "k long, values array<double>")
        with pytest.raises(ValueError, match="'k' holds id 1 more than once"):
            distance_matrix(df, index_col="k")

    @pytest.mark.parametrize("block", [None, ((0, 1), (0, 2))])
    def test_null_id_rejected(self, spark, block):
        df = spark.createDataFrame([(0, [1.0]), (None, [2.0])],
                                   "k long, values array<double>")
        with pytest.raises(ValueError, match="'k' holds a null id"):
            distance_matrix(df, index_col="k", block=block)


class TestCostAwareScheduling:
    """Cost-weighted guided ranges over block tiles for ragged corpora:
    the schedule equalizes estimated kernel cost len_i·len_j, outputs
    stay bit-identical."""

    PAR = 32

    def test_cost_ranges_partition_and_guided_profile(self):
        # an hour of kernel time: the total / (24·par) floor (4.7 s) is
        # above the time floor, so this is the plain guided profile
        self._check_profile(3600.0)

    def test_cost_ranges_time_floor(self):
        from dtaidistance_spark.operators.matrix import _TASK_FLOOR_S

        # 40 s over 32 slots: ranges of at least the floor's seconds
        assert self.PAR < len(self._check_profile(40.0)) \
            <= np.ceil(40.0 / _TASK_FLOOR_S)
        # 1 ms: the floor is capped at 1/par of the job, so a small job
        # still fills every slot
        assert len(self._check_profile(1e-3)) == self.PAR

    def _check_profile(self, job_s):
        from dtaidistance_spark.operators.matrix import (
            _TASK_FLOOR_S, _guided_ranges_cost, _triu_cost_fn)

        rng = np.random.default_rng(3)
        lens = (5 + rng.pareto(1.5, 200) * 40).astype(np.int64)  # power law
        n = len(lens)
        n_pairs = n * (n - 1) // 2
        cost_upto, total = _triu_cost_fn(lens)
        par = self.PAR
        cost_s = job_s / total
        ranges = _guided_ranges_cost(cost_upto, n_pairs, total, par, cost_s)
        # exact partition of the linear pair space
        assert ranges[0][0] == 0 and ranges[-1][1] == n_pairs
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
        assert all(lo < hi for lo, hi in ranges)
        # guided profile in COST: each range holds the guided quantum of
        # the cost remaining at its start, or the floor, up to one pair of
        # binary-search overshoot; only the last range may hold less
        sl = np.sort(lens)
        slack = float(sl[-1] * sl[-2])  # max possible single-pair cost
        floor_c = max(total / n_pairs, total / (par * 24),
                      min(_TASK_FLOOR_S / cost_s, total / par))
        for k, (lo, hi) in enumerate(ranges):
            c_lo, c_hi = cost_upto(lo), cost_upto(hi)
            quantum = max(floor_c, (total - c_lo) / (4 * par))
            assert c_hi - c_lo <= quantum + slack, (lo, hi)
            if k < len(ranges) - 1:
                assert c_hi - c_lo >= quantum, (lo, hi)
        return ranges

    def test_equal_length_schedule_pinned(self):
        # the dtw_matrix benchmark corpus: 480 equal-length series of 504
        # points, window 24, on 4 cores — 3.38 s of estimated C-kernel
        # time, so 7 ranges of the 0.5 s floor (17,017 pairs) and a tail
        from dtaidistance_spark.operators.matrix import (
            _DTW_CELL_S, _cost_s, _guided_ranges_cost, _triu_cost_fn)

        n_pairs = 480 * 479 // 2
        lens = np.full(480, 504, dtype=np.int64)
        cost_upto, total = _triu_cost_fn(lens)
        ranges = _guided_ranges_cost(cost_upto, n_pairs, total, 4,
                                     _cost_s(lens, 24, _DTW_CELL_S))
        assert len(ranges) == 7
        assert ranges[0] == (0, 17017)
        assert ranges[-1][1] == n_pairs
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))

    def test_long_job_keeps_plain_guided_schedule(self):
        # 15k series of 504 points hold ~55 min of kernel time: the
        # total / (24·par) floor (34 s) is above the time floor, so the
        # ranges are the plain guided schedule's, cut by the formula below
        from dtaidistance_spark.operators.matrix import (
            _DTW_CELL_S, _cost_s, _guided_ranges_cost, _triu_cost_fn)

        n, par = 15_000, 4
        n_pairs = n * (n - 1) // 2
        lens = np.full(n, 504, dtype=np.int64)
        cost_upto, total = _triu_cost_fn(lens)
        ranges = _guided_ranges_cost(cost_upto, n_pairs, total, par,
                                     _cost_s(lens, 24, _DTW_CELL_S))
        plain, lo, cost_lo = [], 0, 0.0
        floor_c = max(total / n_pairs, total / (par * 24))
        while lo < n_pairs:
            want = cost_lo + max(floor_c, (total - cost_lo) / (4 * par))
            a, b = lo + 1, n_pairs       # least p with cost_upto(p) >= want
            while a < b and want < total:
                mid = (a + b) // 2
                a, b = (a, mid) if cost_upto(mid) >= want else (mid + 1, b)
            hi = a if want < total else n_pairs
            plain.append((lo, hi))
            cost_lo, lo = cost_upto(hi), hi
        assert ranges == plain
        assert len(ranges) == 44
        assert ranges[0] == (0, 7030782)

    @pytest.mark.parametrize("space", ["triu", "block_triu", "block_rect"])
    def test_tile_schedule_partitions_pair_space(self, space):
        from dtaidistance_spark.operators.matrix import (
            _block_cuts, _range_pairs, _tile_schedule, _tiles)

        rng = np.random.default_rng(11)
        ids = np.sort(rng.choice(400, 40, replace=False)).astype(np.int64)
        lens = rng.integers(5, 50, len(ids)).astype(np.int64)
        blk, triu = {"triu": (None, True),
                     "block_triu": (((ids[3], ids[30]), (ids[10], 400)),
                                    True),
                     "block_rect": (((ids[3], ids[30]), (ids[10], 400)),
                                    False)}[space]
        cuts = _block_cuts(8 * lens, 8 * 120)
        assert len(cuts) - 1 >= 3
        block_of = np.repeat(np.arange(len(cuts) - 1), np.diff(cuts))
        tiles = _tiles(ids, lens, cuts, blk, triu)
        # 1 s per cost unit: the time floor stays below the guided
        # quantum, so the ranges are many and cross tile boundaries
        plan = _tile_schedule([t[5] for t in tiles], 4, 1.0)
        got = []
        for (a, b, rows, cols, tri, (_, n_pairs, _)), ranges in zip(tiles,
                                                                  plan):
            # the tile's ranges partition its pair space, in order
            assert ranges[0][0] == 0 and ranges[-1][1] == n_pairs
            assert all(r[1] == q[0] for r, q in zip(ranges, ranges[1:]))
            for lo, hi in ranges:
                for ii, jj in _range_pairs(lo, hi, rows, cols, tri):
                    touched = set(block_of[np.searchsorted(ids, ii)]) | \
                        set(block_of[np.searchsorted(ids, jj)])
                    assert touched <= {a, b}  # at most two blocks
                    got += zip(ii.tolist(), jj.tolist())
        if blk is None:
            want = [(int(i), int(j)) for k, i in enumerate(ids)
                    for j in ids[k + 1:]]
        else:
            (rb, re_), (cb, ce) = blk
            want = [(int(i), int(j)) for i in ids[(ids >= rb) & (ids < re_)]
                    for j in ids[(ids >= cb) & (ids < ce)]
                    if i < j or not triu]
        assert sorted(got) == sorted(want)
        assert len(got) == len(set(got))  # every pair exactly once

    def test_one_block_schedule_pinned(self):
        # one block is the plain schedule: the pinned 7 ranges above
        from dtaidistance_spark.operators.matrix import (
            _DTW_CELL_S, _block_cuts, _cost_s, _tile_schedule, _tiles)

        ids = np.arange(480, dtype=np.int64)
        lens = np.full(480, 504, dtype=np.int64)
        cuts = _block_cuts(8 * lens, 128 * 1024 * 1024)
        assert cuts == [0, 480]
        tiles = _tiles(ids, lens, cuts, None, True)
        (ranges,) = _tile_schedule([t[5] for t in tiles], 4,
                                   _cost_s(lens, 24, _DTW_CELL_S))
        assert len(ranges) == 7
        assert ranges[0] == (0, 17017)
        assert ranges[-1][1] == 480 * 479 // 2

    def test_blocked_vs_one_block_bit_identical(self, spark, rng,
                                                in_blocks):
        series = [list(rng.normal(size=int(n)))
                  for n in rng.integers(6, 60, 20)]
        df = _series_df(spark, series)

        def run():
            return distance_matrix(df).toPandas().sort_values(["i", "j"]) \
                .reset_index(drop=True)

        a = run()
        b = in_blocks(8 * 60 * 4, run)
        assert len(a) == 20 * 19 // 2
        assert a.equals(b)  # bit-identical: blocks only move work

    def test_ragged_blocked_matches_reference(self, spark, dtw_oracle, rng,
                                              in_blocks):
        # ragged lengths cut into blocks of unequal series counts
        series = [list(rng.normal(size=int(n)))
                  for n in rng.integers(6, 80, 18)]
        df = _series_df(spark, series)
        one = to_condensed(distance_matrix(df), 18)
        cond = in_blocks(8 * 150, lambda: to_condensed(distance_matrix(df),
                                                       18))
        assert np.array_equal(cond, one)
        expected = np.asarray(dtw_oracle.distance_matrix(series, compact=True))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_ragged_block_rectangular_cost_ranges(self, spark, dtw_oracle,
                                                  rng):
        # broadcast strategy + block restriction + ragged lengths: the
        # rectangular cost function drives the ranges
        series = [list(rng.normal(size=int(n)))
                  for n in rng.integers(6, 60, 12)]
        block = ((0, 7), (4, 12))
        df = _series_df(spark, series)
        m = to_matrix(distance_matrix(df, block=block), 12, only_triu=True)
        expected = dtw_oracle.distance_matrix(series, block=block,
                                              only_triu=True)
        np.testing.assert_allclose(m, np.asarray(expected), rtol=1e-14)


class TestCross:
    def test_cross_matrix(self, spark, dtw_oracle, rng):
        corpus = [list(rng.normal(size=10)) for _ in range(12)]
        queries = [list(rng.normal(size=10)) for _ in range(3)]
        cdf = _series_df(spark, corpus)
        qdf = _series_df(spark, queries).withColumnRenamed("i", "qi") \
            .withColumnRenamed("values", "qvalues")
        qdf = qdf.selectExpr("qi as i", "qvalues as values")
        out = distance_matrix_cross(qdf, cdf).toPandas()
        assert len(out) == 36
        for row in out.itertuples(index=False):
            expected = dtw_oracle.distance(queries[row.qi], corpus[row.i])
            assert row.d == pytest.approx(expected, rel=1e-14)

    def test_cross_max_dist_with_psi(self, spark, dtw_oracle, rng):
        corpus = [[0.0, 0, 0, 0]] + [list(rng.normal(size=4))
                                     for _ in range(5)]
        queries = [[100.0, 0, 0, 0], list(rng.normal(size=4))]
        cdf = _series_df(spark, corpus)
        qdf = _series_df(spark, queries)
        st = DtwSettings(max_dist=1.0, psi=1)
        out = distance_matrix_cross(qdf, cdf, settings=st).toPandas()
        assert len(out) == 12
        for row in out.itertuples(index=False):
            expected = dtw_oracle.distance(queries[row.qi], corpus[row.i],
                                           max_dist=1.0, psi=1)
            if math.isinf(expected):
                assert math.isinf(row.d)
            else:
                assert row.d == pytest.approx(expected, rel=1e-14)
        assert out.query("qi == 0 and i == 0")["d"].iat[0] == 0.0


class TestWithIndex:
    def test_dense_indices(self, spark):
        df = spark.createDataFrame(
            [("c", [1.0]), ("a", [2.0]), ("b", [3.0])],
            "series_id string, values array<double>")
        out = with_index(df).orderBy("i").toPandas()
        assert list(out["i"]) == [0, 1, 2]
        assert list(out["series_id"]) == ["a", "b", "c"]

    def test_many_partitions_no_global_exchange(self, spark):
        """Dense global indices must survive a 32-partition input, and the
        plan must contain no single-partition exchange (round-1 regression:
        global row_number)."""
        n = 500
        rows = [(f"s{k:05d}", [float(k)]) for k in range(n)]
        df = spark.createDataFrame(
            rows, "series_id string, values array<double>").repartition(32)
        idx = with_index(df)
        plan = idx._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        out = idx.orderBy("i").toPandas()
        assert list(out["i"]) == list(range(n))
        assert list(out["series_id"]) == sorted(r[0] for r in rows)

    def test_matrix_golden_with_32_partition_input(self, spark, dtw_oracle):
        series = [np.asarray(s, dtype=np.float64) for s in S6]
        df = spark.createDataFrame(
            [(f"id{i}", [float(x) for x in s]) for i, s in enumerate(series)],
            "series_id string, values array<double>").repartition(32)
        idx = with_index(df, order_col="series_id")
        got = to_matrix(distance_matrix(idx), len(series), only_triu=True)
        exp = dtw_oracle.distance_matrix(series)
        iu = np.triu_indices(len(series), k=1)
        assert np.allclose(got[iu], exp[iu], rtol=1e-14)


class TestOrderCol:
    """``distance_matrix(order_col=...)`` ranks ``i`` itself; it must equal
    the matrix over ``with_index(order_col=...)``, in one block or many."""

    @pytest.fixture(scope="class")
    def keyed(self, spark):
        rng = np.random.default_rng(7)
        # byte order, not locale order: upper case before lower case,
        # multi-byte UTF-8 after ASCII
        keys = [f"s{k:02d}" for k in range(20)] + ["Z", "a", "é", "ä", "s1"]
        rows = [(k, [float(x) for x in rng.normal(size=int(n))])
                for k, n in zip(keys, rng.integers(5, 40, len(keys)))]
        order = rng.permutation(len(rows))
        # shuffled rows in a scattered partition layout
        return spark.createDataFrame(
            [rows[k] for k in order],
            "series_id string, values array<double>").repartition(7)

    def _both(self, df, **kw):
        def table(d):
            return d.toPandas().sort_values(["i", "j"]).reset_index(drop=True)
        got = table(distance_matrix(df, order_col="series_id", **kw))
        want = table(distance_matrix(with_index(df, order_col="series_id"),
                                     **kw))
        return got, want

    @pytest.mark.parametrize("block", [None, ((2, 10), (5, 20)),
                                       ((0, 6), (3, 25), False)])
    def test_broadcast_equals_with_index(self, spark, keyed, block):
        got, want = self._both(keyed, block=block, window=4)
        assert len(got) > 0
        assert got.equals(want)

    @pytest.mark.parametrize("block", [None, ((2, 10), (5, 20)),
                                       ((0, 6), (3, 25), False)])
    def test_blocked_equals_with_index(self, spark, keyed, block, in_blocks):
        got, want = in_blocks(8 * 80, lambda: self._both(keyed, block=block))
        one, _ = self._both(keyed, block=block)
        assert len(got) > 0
        assert got.equals(want)
        assert got.equals(one)

    def test_ranks_follow_spark_order(self, spark, keyed):
        ids = [r[0] for r in keyed.orderBy("series_id").collect()]
        n = len(ids)
        pdf = distance_matrix(keyed, order_col="series_id").toPandas()
        assert len(pdf) == n * (n - 1) // 2
        vals = {r[0]: np.asarray(r[1]) for r in keyed.collect()}
        for row in pdf.head(40).itertuples():
            assert row.d == dtw_distance(vals[ids[row.i]], vals[ids[row.j]])

    def test_integral_key_equals_with_index(self, spark, keyed):
        # distinct negative and multi-digit keys: numeric order, not
        # digit order
        rows = keyed.collect()
        keys = np.random.default_rng(3).permutation(
            np.arange(-12, len(rows) - 12)) * 11
        ints = spark.createDataFrame(
            [(int(k), r["values"]) for k, r in zip(keys, rows)],
            "series_id long, values array<double>").repartition(5)
        got, want = self._both(ints, window=4)
        assert len(got) > 0
        assert got.equals(want)

    def test_float_key_rejected(self, spark, keyed):
        floats = keyed.selectExpr("double('NaN') AS series_id", "values")
        with pytest.raises(TypeError, match="string or integral"):
            distance_matrix(floats, order_col="series_id")


class TestTriuUnrank:
    def test_inverse_of_condensed(self):
        from dtaidistance_spark.operators.matrix import _triu_unrank
        for n in (2, 3, 7, 64, 501):
            p = np.arange(n * (n - 1) // 2, dtype=np.int64)
            i, j = _triu_unrank(p, n)
            ei, ej = np.triu_indices(n, k=1)
            assert np.array_equal(i, ei) and np.array_equal(j, ej)
            assert np.array_equal(condensed_index(i, j, n), p)


class TestPairExecutor:
    """The pair executor's per-range generator, block schedule and
    worker cache, driven directly without Spark."""

    @pytest.mark.parametrize("space", ["triu", "block_triu", "block_rect"])
    def test_range_sub_batches_bounded(self, space):
        from dtaidistance_spark.operators.matrix import (
            _compute_pairs, _range_pairs)

        ids = np.arange(0, 90, 3, dtype=np.int64)  # sparse ids
        rng = np.random.default_rng(5)
        vals = {int(i): rng.normal(size=16) for i in ids}
        if space == "triu":
            rows, cols, triu = ids, None, True
            n_pairs = len(ids) * (len(ids) - 1) // 2
        else:
            rows, cols = ids[4:21], ids[9:30]
            triu = space == "block_triu"
            n_pairs = len(rows) * len(cols)
        st = DtwSettings(window=4)
        cap = 7
        for lo, hi in [(0, n_pairs), (5, n_pairs - 11), (40, 41)]:
            one_i, one_j = next(_range_pairs(lo, hi, rows, cols, triu,
                                             cap=hi - lo))
            parts = list(_range_pairs(lo, hi, rows, cols, triu, cap=cap))
            assert len(parts) == -(-(hi - lo) // cap)
            assert all(len(ii) == len(jj) <= cap for ii, jj in parts)
            got_i = np.concatenate([ii for ii, _ in parts])
            got_j = np.concatenate([jj for _, jj in parts])
            assert np.array_equal(got_i, one_i)
            assert np.array_equal(got_j, one_j)
            if triu:
                assert (got_i < got_j).all()
            d_one = _compute_pairs(one_i, one_j, vals, st)[2]
            d_parts = np.concatenate(
                [_compute_pairs(ii, jj, vals, st)[2] for ii, jj in parts])
            assert np.array_equal(d_parts, d_one)

    def test_corpus_cache_evicts_past_byte_cap(self, monkeypatch):
        from dtaidistance_spark.operators import matrix as M

        monkeypatch.setattr(M, "_CORPUS_CACHE", {})
        entry = 10 * 8 * 8  # the stack of 10 series of 8 doubles
        monkeypatch.setattr(M, "_CORPUS_CACHE_BYTES", 3 * entry)
        dicts = [M._SharedCorpus((i, np.full(8, float(k))) for i in range(10))
                 for k in range(5)]
        first = M._corpus_matrix(dicts[0])
        assert M._corpus_matrix(dicts[0]) is first  # hit: built once
        for d in dicts[1:3]:
            M._corpus_matrix(d)
        assert len(M._CORPUS_CACHE) == 3  # at the cap, nothing evicted
        M._corpus_matrix(dicts[3])  # passes the cap: oldest goes
        assert len(M._CORPUS_CACHE) == 3
        assert (id(dicts[0]),) not in M._CORPUS_CACHE
        assert sum(e[1][1].nbytes for e in M._CORPUS_CACHE.values()) \
            <= 3 * entry
        ids, V = M._corpus_matrix(dicts[4])
        assert np.array_equal(ids, np.arange(10)) and (V == 4.0).all()
        # a ragged corpus has no stacked matrix and is not cached
        assert M._corpus_matrix(
            M._SharedCorpus({0: np.zeros(3), 1: np.zeros(4)})) is None
        assert len(M._CORPUS_CACHE) == 3

    def test_two_block_stack_cached_and_released(self, monkeypatch):
        """A tile's join of two blocks stacks once per worker, keyed by
        the blocks; the stack goes once the worker lets a block go."""
        from dtaidistance_spark.operators import matrix as M

        monkeypatch.setattr(M, "_CORPUS_CACHE", {})
        lo = M._SharedCorpus((i, np.full(4, float(i))) for i in range(3))
        hi = M._SharedCorpus((i, np.full(4, float(i))) for i in range(3, 5))
        ids, V = M._corpus_matrix(M._SharedCorpus.join([lo, hi]))
        assert np.array_equal(ids, np.arange(5))
        assert np.array_equal(V[:, 0], np.arange(5.0))
        again = M._corpus_matrix(M._SharedCorpus.join([lo, hi]))
        assert again[1] is V  # a fresh join of the same blocks hits
        assert M._SharedCorpus.join([lo]) is lo
        del hi, again
        M._corpus_matrix(lo)  # a miss drops the stack of the freed block
        assert list(M._CORPUS_CACHE) == [(id(lo),)]

    def test_one_shot_dicts_not_cached(self, monkeypatch):
        """Cross batches pass plain per-call dicts; they are stacked for
        the kernel but never retained."""
        from dtaidistance_spark.operators import matrix as M

        monkeypatch.setattr(M, "_CORPUS_CACHE", {})
        vals = {i: np.full(8, float(i)) for i in range(10)}
        ids, V = M._corpus_matrix(vals)
        assert np.array_equal(V[:, 0], np.arange(10.0))
        ii, jj = np.array([0, 1, 2]), np.array([3, 4, 5])
        M._compute_pairs(ii, jj, vals, DtwSettings(window=2))
        assert M._CORPUS_CACHE == {}

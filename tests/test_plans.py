"""Physical-plan property assertions for the headline queries — the
claims the docs make about the plans, pinned so regressions surface:

* tier rollup: partial (map-side) aggregation starts on the scan and
  the plan has exactly ONE shuffle exchange (no row_number window pass);
* edit_distance: no Python evaluation node (JVM levenshtein only);
* lb_keogh / ub_euclidean bounds: pure column algebra, no Python;
* no SinglePartition exchange in any hot plan.
"""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="testdata absent")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython")


class TestPlans:
    def test_rollup_single_shuffle_partial_agg(self, spark):
        from dtaidistance_spark.plans import driver_queries as DQ
        plan = _plan(DQ.q_rollup_1m(spark, SF_DIR))
        # one HASH exchange: the final aggregation's partitioning — the
        # partial agg is map-side.  (An extra round-robin exchange may
        # precede it: _events spreads single-row-group scans, r6.)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Exchange") <= 2, plan
        assert "partial" in plan.lower()
        assert "SinglePartition" not in plan
        # r6: the decimal surrogate keeps the tier aggregation hash-based
        # (the struct key silently demoted it to SortAggregate)
        assert "SortAggregate" not in plan, plan

    def test_compress_roundtrip_plan_is_key_free(self, spark):
        """The codec path reads only sum per (series, hour): Catalyst
        prunes the first/last aggregates and with them the surrogate
        ordering key and its domain guard, which the full rollup plan
        carries."""
        from dtaidistance_spark.operators import rollup as R
        from dtaidistance_spark.plans import driver_queries as DQ
        key_parts = ("raise_error", "unix_micros", "decimal(38", "min_by")
        full = _plan(R.rollup_points(
            DQ.event_points_rollup(spark, SF_DIR), "1h"))
        assert all(k in full for k in key_parts), full
        plan = _plan(DQ.q_compress_roundtrip_1h(spark, SF_DIR))
        for k in key_parts:
            assert k not in plan, plan

    def test_latency_quantiles_reuses_partitioning(self, spark):
        """The rank windows over (series_id, bucket_ts) and the final
        group-by must all reuse the series_id hash partitioning — two
        exchanges total (seq ordering on user_id + series re-key), no
        extra shuffle per window pass, no Python nodes."""
        from dtaidistance_spark.plans import driver_queries as DQ
        plan = _plan(DQ.q_latency_quantiles(spark, SF_DIR))
        assert plan.count("Exchange") <= 2, plan
        assert "SinglePartition" not in plan
        for node in PY_EVAL_NODES:
            assert node not in plan

    def test_edit_distance_is_jvm_only(self, spark):
        from dtaidistance_spark.plans import driver_queries as DQ
        plan = _plan(DQ.q_edit_distance(spark, SF_DIR))
        assert "levenshtein" in plan
        for node in PY_EVAL_NODES:
            assert node not in plan, plan

    def test_bounds_are_jvm_only(self, spark):
        from dtaidistance_spark.functions.bounds import (lb_keogh_pairs,
                                                         ub_euclidean_pairs)
        df = spark.createDataFrame(
            [(i, [float(i), 1.0, 2.0]) for i in range(4)],
            "i long, values array<double>")
        for out in (lb_keogh_pairs(df, window=2), ub_euclidean_pairs(df)):
            plan = _plan(out)
            for node in PY_EVAL_NODES:
                assert node not in plan, plan
            assert "SinglePartition" not in plan

    def test_gap_fill_arrays_jvm_only_and_broadcast_bounded(self, spark):
        """The gap-fill dense grid + series_arrays chain is pure JVM
        column algebra (two-level explode, left join, array_sort/
        transform — no Python eval), and the global-align bounds reach
        every series via a BROADCAST of the 1-row min/max aggregate —
        the only tolerated SinglePartition is that scalar aggregate,
        never the grid or the join."""
        from dtaidistance_spark.operators import rollup as R
        from dtaidistance_spark.plans.driver_queries import event_points_rollup
        agg = R.rollup_points(event_points_rollup(spark, SF_DIR), "1h")
        filled = R.gap_fill(agg, "1h", policy="zero", align="global")
        arrays = R.series_arrays(filled, "1h", value_col="cnt")
        plan = _plan(arrays)
        for node in PY_EVAL_NODES:
            assert node not in plan, plan
        assert "BroadcastExchange" in plan, plan
        # exactly ONE single-partition exchange is tolerated: the 1-row
        # global-bounds min/max aggregate feeding the broadcast — the
        # grid explode, the left join and the array groupBy must all
        # stay hash-partitioned
        assert plan.count("Exchange SinglePartition") <= 1, plan

    @pytest.mark.parametrize("kw", [{}, {"block": ((0, 6), (3, 12))},
                                    {"order_col": "i"}])
    def test_distance_matrix_call_runs_one_job(self, spark, kw):
        """A matrix call's only job is the corpus collect: no persist
        and no stats pass run before it, and the pair ranges run when
        the result is."""
        from dtaidistance_spark.operators.matrix import distance_matrix
        df = spark.createDataFrame(
            [(i, [float(i), 1.0, float(i % 3)]) for i in range(12)],
            "i long, values array<double>")
        sc = spark.sparkContext
        group = f"matrix-call-jobs-{sorted(kw)}"
        sc.setJobGroup(group, "distance_matrix call")
        try:
            dist = distance_matrix(df, **kw)
        finally:
            sc.setJobGroup(None, None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        assert dist.count() > 0

    def test_dtw_distance_matrix_call_runs_two_jobs(self, spark):
        """``q_dtw_distance_matrix``'s call collects the sparse 1h tier
        (the aggregate's map stage and the collect: two jobs) and
        densifies it on the driver; collecting ``hourly_series`` and
        ranking it took five.  The first call may also infer the events
        schema, so the second is counted."""
        from dtaidistance_spark.plans import driver_queries as DQ
        sc = spark.sparkContext
        DQ.q_dtw_distance_matrix(spark, SF_DIR)
        group = "dtw-distance-matrix-call-jobs"
        sc.setJobGroup(group, "q_dtw_distance_matrix call")
        try:
            dist = DQ.q_dtw_distance_matrix(spark, SF_DIR)
        finally:
            sc.setJobGroup(None, None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
        n = DQ.hourly_series(spark, SF_DIR).count()
        assert dist.count() == n * (n - 1) // 2

    def test_events_schema_inferred_once_per_file_version(self, spark,
                                                          tmp_path):
        """``_events`` infers the schema (one job) on its first read of a
        file; a second read of the unchanged file starts no job, and a
        rewritten file is inferred again."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from dtaidistance_spark.plans import driver_queries as DQ
        path = tmp_path / "events.parquet"
        pq.write_table(pa.table({"event_id": [1, 2], "value": [0.5, 1.5]}),
                       path)
        sc = spark.sparkContext

        def read(group):
            sc.setJobGroup(group, "_events call")
            try:
                ev = DQ._events(spark, str(tmp_path))
            finally:
                sc.setJobGroup(None, None)
            return ev, list(sc.statusTracker().getJobIdsForGroup(group))

        first, jobs = read("events-first-read")
        assert jobs
        second, jobs = read("events-second-read")
        assert jobs == []
        assert second.schema == first.schema
        assert sorted(second.collect()) == sorted(first.collect())
        pq.write_table(pa.table({"event_id": [3], "value": [2.5],
                                 "user_id": [7]}), path)
        third, jobs = read("events-rewritten")
        assert jobs
        assert third.columns == ["event_id", "value", "user_id"]
        assert [tuple(r) for r in third.collect()] == [(3, 2.5, 7)]

    def test_bounds_call_runs_no_job(self, spark):
        """A bounds call only builds a plan: no persist and no stats
        pass run before its result is forced."""
        from dtaidistance_spark.functions.bounds import lb_keogh_pairs
        df = spark.createDataFrame(
            [(i, [float(i), 1.0, float(i % 3)]) for i in range(12)],
            "i long, values array<double>")
        sc = spark.sparkContext
        group = "bounds-call-jobs"
        sc.setJobGroup(group, "lb_keogh_pairs call")
        try:
            out = lb_keogh_pairs(df, window=2)
        finally:
            sc.setJobGroup(None, None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert out.count() == 12 * 11 // 2

    @pytest.mark.parametrize("event_id", [-1, 10 ** 18])
    def test_surrogate_key_domain_fails_loudly(self, spark, tmp_path,
                                               event_id):
        """event_points_rollup's decimal ordering key raises on a row
        outside 0 <= event_id < 10^18 instead of misordering first/last;
        in-domain boundary ids and pre-epoch timestamps order right,
        still hash-aggregated."""
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        from dtaidistance_spark.operators import rollup as R
        from dtaidistance_spark.plans.driver_queries import event_points_rollup

        def table(rows):
            ids, stamps = zip(*rows)
            return pa.table({
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array([dt.datetime.fromisoformat(t) for t in stamps],
                               pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "value": pa.array([float(k) for k in range(len(rows))])})

        ok = [(0, "1970-01-01 00:00:00"), (10 ** 18 - 1, "2024-01-01 00:00:00"),
              (7, "2024-01-01 00:00:00"), (9, "1969-12-31 23:59:59"),
              (20, "1969-12-31 23:00:01")]
        good, bad = tmp_path / "good", tmp_path / "bad"
        good.mkdir()
        bad.mkdir()
        pq.write_table(table(ok), str(good / "events.parquet"))
        pq.write_table(table(ok + [(event_id, "2024-01-01 00:00:00")]),
                       str(bad / "events.parquet"))
        agg = R.rollup_points(event_points_rollup(spark, str(good)), "1h")
        # pre-epoch hour: ts orders before the larger id (value 4 first);
        # the two 2024 rows share a ts, so event_id orders them: id 7
        # (value 2) first, id 10^18-1 (value 1) last
        rows = sorted(agg.select("bucket_ts", "first", "last").collect())
        assert [(r["first"], r["last"]) for r in rows] == [
            (4.0, 3.0), (0.0, 0.0), (2.0, 1.0)]
        assert "SortAggregate" not in _plan(agg)
        with pytest.raises(Exception, match="decimal\\(38,0\\) ordering key"):
            R.rollup_points(event_points_rollup(spark, str(bad)),
                            "1h").collect()

    def test_retention_filter_reaches_scan_side(self, spark):
        """apply_retention's bucket filter sits below the aggregation
        output (declarative WHERE, not a post-collect filter)."""
        from dtaidistance_spark.operators import rollup as R
        from dtaidistance_spark.plans.driver_queries import event_points_rollup
        agg = R.rollup_points(event_points_rollup(spark, SF_DIR), "1h")
        kept = R.apply_retention(agg, "1h", "2024-01-15")
        plan = _plan(kept)
        assert "Filter" in plan
        assert "SinglePartition" not in plan

    def test_ann_lsh_plan_arrow_udf_and_bucket_join(self, spark):
        """lsh_topk computes every table's bucket in ONE Arrow-batched
        UDF (ArrowEvalPython — never row-at-a-time BatchEvalPython; the
        old 120-fold column form cost ~100 s of Catalyst analysis), the
        candidate step is a broadcast hash join on the (t, bucket) keys,
        and nothing collapses to a single partition."""
        from dtaidistance_spark.operators import ann as ANN
        emb = spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
             for i in range(32)],
            "vec_id long, embedding array<double>")
        q = emb.where(F.col("vec_id") < 3)
        plan = _plan(ANN.lsh_topk(emb, q, dim=8, k=3, n_planes=4,
                                  n_tables=6))
        assert "ArrowEvalPython" in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "SinglePartition" not in plan, plan

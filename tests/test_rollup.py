"""Rollup cascade / gap-fill / transcript-source tests.

Golden oracle: straightforward pandas groupby over the same collected
input (FIXTURES.md §8) — cnt/min/max/first/last must match exactly,
sums to float64 round-off.
"""

import numpy as np
import pandas as pd
import pytest

from dtaidistance_spark.operators.ingest import transcript_points
from dtaidistance_spark.operators.rollup import (
    BUCKET_SPEC, collect_dense_arrays, dense_arrays, gap_fill,
    rollup_cascade, rollup_points, series_arrays,
)
from dtaidistance_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_convs=40, seed=42, max_turns=300).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def points(spark, transcripts):
    df = transcript_points(transcripts).cache()
    df.count()
    return df


class TestTranscriptSource:
    def test_schema(self, transcripts):
        assert [f.name for f in transcripts.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts"]
        types = {f.name: f.dataType.simpleString() for f in transcripts.schema.fields}
        assert types["turn_idx"] == "int"
        assert types["ts"] == "timestamp"

    def test_deterministic(self, spark, transcripts):
        again = synth_transcripts(spark, n_convs=40, seed=42, max_turns=300)
        a = transcripts.orderBy("conv_id", "turn_idx").toPandas()
        b = again.orderBy("conv_id", "turn_idx").toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_monotone_ts_and_dense_turns(self, transcripts):
        pdf = transcripts.orderBy("conv_id", "turn_idx").toPandas()
        for _, g in pdf.groupby("conv_id"):
            assert (g["turn_idx"].values == np.arange(len(g))).all()
            assert g["ts"].is_monotonic_increasing

    def test_power_law_skew(self, transcripts):
        counts = transcripts.groupBy("conv_id").count().toPandas()["count"]
        assert counts.min() >= 2
        assert counts.max() >= 10 * counts.median()

    def test_roles_and_tools(self, transcripts):
        pdf = transcripts.toPandas()
        assert set(pdf["role"].unique()) == {"user", "assistant", "tool"}
        assert pdf.loc[pdf.role == "tool", "tool"].notna().all()
        assert pdf.loc[pdf.role != "tool", "tool"].isna().all()


class TestRollup:
    def _golden(self, points_pdf, freq):
        g = points_pdf.copy()
        g["bucket_ts"] = g["ts"].dt.floor(freq)
        g = g.sort_values(["series_id", "seq"])
        out = g.groupby(["series_id", "bucket_ts"]).agg(
            cnt=("value", "size"), sum=("value", "sum"), min=("value", "min"),
            max=("value", "max"), first=("value", "first"), last=("value", "last"),
        ).reset_index()
        return out.sort_values(["series_id", "bucket_ts"]).reset_index(drop=True)

    def test_rollup_1m_matches_pandas(self, points):
        agg = rollup_points(points, "1m").orderBy("series_id", "bucket_ts").toPandas()
        golden = self._golden(points.toPandas(), "1min")
        assert len(agg) == len(golden)
        for c in ("series_id", "bucket_ts", "cnt", "min", "max", "first", "last"):
            assert (agg[c].values == golden[c].values).all(), c
        np.testing.assert_allclose(agg["sum"], golden["sum"], rtol=1e-12)

    def test_cascade_equals_direct(self, points):
        agg1m = rollup_points(points, "1m")
        via = rollup_cascade(agg1m, "1h").orderBy("series_id", "bucket_ts").toPandas()
        direct = rollup_points(points, "1h").orderBy("series_id", "bucket_ts").toPandas()
        assert len(via) == len(direct)
        for c in ("series_id", "bucket_ts", "cnt", "min", "max", "first", "last"):
            assert (via[c].values == direct[c].values).all(), c
        np.testing.assert_allclose(via["sum"], direct["sum"], rtol=1e-12)

    def test_cascade_1d(self, points):
        agg1m = rollup_points(points, "1m")
        agg1h = rollup_cascade(agg1m, "1h")
        via = rollup_cascade(agg1h, "1d").orderBy("series_id", "bucket_ts").toPandas()
        direct = rollup_points(points, "1d").orderBy("series_id", "bucket_ts").toPandas()
        assert (via["cnt"].values == direct["cnt"].values).all()
        np.testing.assert_allclose(via["sum"], direct["sum"], rtol=1e-12)


class TestGapFill:
    def test_grid_dense(self, points):
        agg = rollup_points(points, "1m")
        filled = gap_fill(agg, "1m").orderBy("series_id", "bucket_ts").toPandas()
        for _, g in filled.groupby("series_id"):
            diffs = g["bucket_ts"].diff().dropna().dt.total_seconds()
            assert (diffs == 60).all()

    def test_gaps_exist_and_cnt_zero(self, points):
        agg = rollup_points(points, "1m")
        filled = gap_fill(agg, "1m").toPandas()
        gaps = filled[filled["gap"]]
        assert len(gaps) > 0  # synthetic silences guarantee real gaps
        assert (gaps["cnt"] == 0).all()
        assert gaps["sum"].isna().all()

    def test_locf(self, points):
        agg = rollup_points(points, "1m")
        filled = gap_fill(agg, "1m", policy="locf") \
            .orderBy("series_id", "bucket_ts").toPandas()
        g = filled[filled["series_id"] == filled["series_id"].iloc[0]]
        # after the first observed bucket, last is never null under locf
        seen = g["last"].notna().cummax()
        assert (g["last"].notna() | ~seen).all()

    def test_zero_policy(self, points):
        agg = rollup_points(points, "1m")
        filled = gap_fill(agg, "1m", policy="zero").toPandas()
        assert (filled.loc[filled["gap"], "sum"] == 0.0).all()

    def test_interpolate_hand_fixture(self, spark):
        import datetime as dt

        import pandas as pd

        t0 = dt.datetime(2024, 1, 1, 0, 0)
        rows = [
            ("a", t0, 1, 1.0, 1.0, 1.0, 1.0, 1.0),
            ("a", t0 + dt.timedelta(minutes=3), 1, 4.0, 4.0, 4.0, 4.0, 4.0),
        ]
        agg = spark.createDataFrame(
            pd.DataFrame(rows, columns=[
                "series_id", "bucket_ts", "cnt", "sum",
                "min", "max", "first", "last"]))
        out = gap_fill(agg, "1m", policy="interpolate") \
            .orderBy("bucket_ts").toPandas()
        np.testing.assert_allclose(out["sum"], [1.0, 2.0, 3.0, 4.0])
        np.testing.assert_allclose(out["last"], [1.0, 2.0, 3.0, 4.0])
        assert list(out["gap"]) == [False, True, True, False]
        assert list(out["cnt"]) == [1, 0, 0, 1]

    def test_interpolate_matches_pandas(self, points):
        agg = rollup_points(points, "1m")
        filled = gap_fill(agg, "1m", policy="interpolate") \
            .orderBy("series_id", "bucket_ts").toPandas()
        raw = gap_fill(agg, "1m").orderBy("series_id", "bucket_ts").toPandas()
        # uniform grid → pandas linear interpolation is the golden
        golden = raw.groupby("series_id")["sum"].transform(
            lambda s: s.interpolate(method="linear", limit_area="inside"))
        np.testing.assert_allclose(filled["sum"], golden, rtol=1e-12)
        # observed rows pass through untouched
        obs = ~raw["gap"]
        assert (filled.loc[obs, "sum"].values == raw.loc[obs, "sum"].values).all()

    def test_interpolate_global_align_edges_stay_null(self, points):
        agg = rollup_points(points, "1m")
        filled = gap_fill(agg, "1m", policy="interpolate", align="global") \
            .orderBy("series_id", "bucket_ts").toPandas()
        # a series that starts after the global min has leading gap rows
        # with no left neighbour — those must stay NULL, never extrapolated
        for _, g in filled.groupby("series_id"):
            first_obs = (~g["gap"]).idxmax()
            lead = g.loc[: first_obs - 1] if first_obs > g.index[0] else g.iloc[:0]
            assert lead["sum"].isna().all()


class TestSeriesArrays:
    def test_dense_arrays(self, points):
        agg = gap_fill(rollup_points(points, "1m"), "1m", policy="zero")
        arr = series_arrays(agg, "1m", value_col="cnt").toPandas()
        assert (arr["n"] == arr["values"].map(len)).all()
        assert (arr["step_s"] == 60).all()
        one = arr.iloc[0]
        agg_one = agg.where(f"series_id = '{one['series_id']}'") \
            .orderBy("bucket_ts").toPandas()
        np.testing.assert_allclose(one["values"], agg_one["cnt"].astype(float))


class TestDenseArrays:
    """``dense_arrays`` against the chain it replaces,
    ``series_arrays(gap_fill(policy="zero", align="global"))``."""

    # bucket offsets per series: "a" has gaps and a null max, "b" spans
    # the corpus end, "c" lies wholly before the last 10 buckets
    OFFSETS = {"a": [0, 1, 5, 9], "b": [3, 40], "c": [0, 2]}

    def _agg(self, spark, bucket):
        import datetime as dt

        step = BUCKET_SPEC[bucket][1]
        t0 = dt.datetime(2024, 1, 1)
        rows = []
        for sid, offs in self.OFFSETS.items():
            for k, off in enumerate(offs):
                v = float(off) + 0.25
                mx = None if (sid, k) == ("a", 2) else v + 1.0
                rows.append((sid, t0 + dt.timedelta(seconds=off * step),
                             k + 1, v, v, mx, v, v))
        return spark.createDataFrame(
            rows, "series_id string, bucket_ts timestamp, cnt long, "
                  "sum double, min double, max double, first double, "
                  "last double")

    @pytest.mark.parametrize("bucket", ["1h", "1d"])
    @pytest.mark.parametrize("span_cap", [None, 10, 1000])
    def test_equals_gap_fill_chain(self, spark, bucket, span_cap):
        agg = self._agg(spark, bucket)
        for col in ("cnt", "sum", "max"):
            want = series_arrays(
                gap_fill(agg, bucket, policy="zero", align="global",
                         span_cap=span_cap), bucket, value_col=col)
            got = dense_arrays(agg, bucket, col, span_cap=span_cap)
            assert got.schema == want.schema, col
            assert (sorted(map(tuple, got.collect()))
                    == sorted(map(tuple, want.collect()))), col

    @pytest.mark.parametrize("span_cap", [None, 10])
    def test_nd_equals_zipped_columns(self, spark, span_cap):
        agg = self._agg(spark, "1h")
        one = {c: {r["series_id"]: r for r in
                   dense_arrays(agg, "1h", c, span_cap=span_cap).collect()}
               for c in ("cnt", "max")}
        got = {r["series_id"]: r for r in
               dense_arrays(agg, "1h", ["cnt", "max"],
                            span_cap=span_cap).collect()}
        assert sorted(got) == ["a", "b", "c"]
        for sid, r in got.items():
            cnt, mx = one["cnt"][sid], one["max"][sid]
            assert (r["t0"], r["n"]) == (cnt["t0"], cnt["n"])
            assert r["values"] == [[a, b] for a, b in
                                   zip(cnt["values"], mx["values"])]

    def test_series_before_window_keeps_zero_row(self, spark):
        agg = self._agg(spark, "1h")
        rows = {r["series_id"]: r for r in
                dense_arrays(agg, "1h", "cnt", span_cap=10).collect()}
        assert sorted(rows) == ["a", "b", "c"]
        for r in rows.values():
            assert r["n"] == 10 and len(r["values"]) == 10
        assert rows["a"]["values"] == [0.0] * 10
        assert rows["c"]["values"] == [0.0] * 10
        # "b"'s bucket 40 is the last position; bucket 3 is cut
        assert rows["b"]["values"] == [0.0] * 9 + [2.0]
        assert dense_arrays(agg.where("false"), "1h", "cnt").count() == 0

    def test_span_shorter_than_cap(self, spark):
        agg = self._agg(spark, "1d")
        rows = {r["series_id"]: r for r in
                dense_arrays(agg, "1d", "max", span_cap=1000).collect()}
        assert {r["n"] for r in rows.values()} == {41}
        a = rows["a"]["values"]
        # the null max at offset 5 reads as the fill, like a gap
        assert (a[0], a[1], a[5], a[9]) == (1.25, 2.25, 0.0, 10.25)
        assert sum(1 for x in a if x) == 3

    @pytest.mark.parametrize("bucket", ["1h", "1d"])
    @pytest.mark.parametrize("span_cap", [None, 10, 1000])
    def test_collected_twin_equals_dense_arrays(self, spark, bucket,
                                                span_cap):
        """``collect_dense_arrays`` gives ``dense_arrays``' rows as one
        matrix, ``==`` element for element, in series_id order; under
        span_cap 10 "c" (wholly before the window) keeps a zero row."""
        agg = self._agg(spark, bucket)
        for col in ("cnt", "sum", "max"):
            want = sorted(dense_arrays(agg, bucket, col,
                                       span_cap=span_cap).collect(),
                          key=lambda r: r["series_id"])
            ids, V = collect_dense_arrays(agg, bucket, col,
                                          span_cap=span_cap)
            assert ids == [r["series_id"] for r in want] == ["a", "b", "c"]
            assert V.dtype == np.float64
            assert V.shape == (3, want[0]["n"])
            assert V.tolist() == [r["values"] for r in want], col

    @pytest.mark.parametrize("min_len", [None, 10, 11])
    def test_collected_twin_min_len_and_empty(self, spark, min_len):
        """``min_len`` keeps every series or none, as ``where(n >=
        min_len)`` on ``dense_arrays``; an empty tier gives nothing."""
        agg = self._agg(spark, "1h")
        want = dense_arrays(agg, "1h", "cnt", span_cap=10)
        if min_len is not None:
            want = want.where(f"n >= {min_len}")
        want = sorted(want.collect(), key=lambda r: r["series_id"])
        ids, V = collect_dense_arrays(agg, "1h", "cnt", span_cap=10,
                                      min_len=min_len)
        assert ids == [r["series_id"] for r in want]
        assert V.tolist() == [r["values"] for r in want]
        assert len(want) == (0 if min_len == 11 else 3)
        ids, V = collect_dense_arrays(agg.where("false"), "1h", "cnt",
                                      min_len=min_len)
        assert ids == [] and V.shape == (0, 0)

    def test_plan_one_aggregate_no_grid(self, spark):
        df = dense_arrays(self._agg(spark, "1h"), "1h", "cnt")
        df.collect()
        qe = df._jdf.queryExecution()
        logical = qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
        for plan in (logical, physical):
            assert "Generate" not in plan
            assert "HashJoin" not in plan and "SortMergeJoin" not in plan
        assert all(line.strip().startswith("+- Join Cross")
                   for line in logical.splitlines() if "Join" in line)
        # the map is built once per series in the aggregate; the lambda
        # only looks it up
        built = [line for line in logical.splitlines()
                 if "map_from_entries(collect_list" in line]
        assert built and all("Aggregate [series_id" in line for line in built)
        lam = [line for line in logical.splitlines() if "transform(" in line]
        assert lam and not any("map_from_entries" in line
                               or "collect_list" in line for line in lam)
        # the bounds row reuses the per-series aggregate's exchange
        assert "ReusedExchange" in physical


class TestDistinctSketchRollup:
    def _points(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F  # noqa: F401
        t0 = pd.Timestamp("2024-01-01")
        rows = []
        # users hit in overlapping hourly patterns; distinct/day is NOT
        # the sum of distinct/hour
        for h in range(48):
            for u in range(h % 7 + 1):
                rows.append((f"u{u}", t0 + pd.Timedelta(hours=h, minutes=u)))
        for u in range(200):        # one burst hour with many users
            rows.append((f"b{u}", t0 + pd.Timedelta(hours=5, minutes=30)))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts"]))

    def test_estimates_exact_in_sparse_regime(self, spark):
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import rollup_distinct
        pts = self._points(spark)
        hourly = rollup_distinct(pts, "1h", key_col="user_id").toPandas()
        exact = (pts.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"))
                 .agg(F.countDistinct("user_id").alias("d"))
                 .toPandas().set_index("bucket_ts")["d"])
        got = hourly.set_index("bucket_ts")["distinct_est"].sort_index()
        assert (got == exact.sort_index()).all()   # sparse regime: exact

    def test_cascade_equals_direct_sketch(self, spark):
        """The mergeability invariant: unioning the hourly sketches IS
        the daily sketch — estimates equal bit-for-bit, which exact
        distinct counts can never do (they don't cascade at all)."""
        from dtaidistance_spark.operators.rollup import (cascade_distinct,
                                                         rollup_distinct)
        pts = self._points(spark)
        hourly = rollup_distinct(pts, "1h", key_col="user_id")
        daily_cascaded = (cascade_distinct(hourly, "1d")
                          .toPandas().set_index("bucket_ts")
                          ["distinct_est"].sort_index())
        daily_direct = (rollup_distinct(pts, "1d", key_col="user_id")
                        .toPandas().set_index("bucket_ts")
                        ["distinct_est"].sort_index())
        assert (daily_cascaded == daily_direct).all()
        # and it is NOT the sum of hourly distincts (the naive error)
        naive = (hourly.toPandas()
                 .assign(day=lambda d: d["bucket_ts"].dt.floor("D"))
                 .groupby("day")["distinct_est"].sum())
        assert (naive.values > daily_direct.values).any()

    def test_error_bound_large_cardinality(self, spark):
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import rollup_distinct
        n = 50000
        pts = spark.range(n).select(
            F.concat(F.lit("u"), F.col("id").cast("string"))
            .alias("user_id"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"))
        est = (rollup_distinct(pts, "1h", key_col="user_id")
               .toPandas()["distinct_est"].iloc[0])
        assert abs(est / n - 1.0) < 0.05

    def test_grouped_and_plan(self, spark):
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import rollup_distinct
        pts = self._points(spark).withColumn("region", F.lit("eu"))
        out = rollup_distinct(pts, "1d", key_col="user_id",
                              group_col="region")
        pdf = out.toPandas()
        assert set(pdf["region"]) == {"eu"} and len(pdf) == 2
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan


class TestQuantileSketchRollup:
    def test_exact_in_small_regime_and_cascade(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import (
            cascade_quantile_sketch, quantiles_from_sketch,
            rollup_quantile_sketch)

        rng = np.random.default_rng(2)
        rows = []
        t0 = pd.Timestamp("2024-01-01")
        vals = {}
        for h in range(6):
            v = rng.integers(0, 1000, size=50)   # 50 <= k: sketch exact
            vals[h] = v
            rows += [(t0 + pd.Timedelta(hours=h, minutes=i % 60),
                      float(x)) for i, x in enumerate(v)]
        pts = spark.createDataFrame(
            pd.DataFrame(rows, columns=["ts", "value"]))
        hourly = rollup_quantile_sketch(pts, "1h", k=200)
        got = (quantiles_from_sketch(hourly, qs=(0.5,))
               .toPandas().set_index("bucket_ts").sort_index())
        for h in range(6):
            # DataSketches quantile def: smallest item whose rank >= q
            v = np.sort(vals[h])
            assert got["p50"].iloc[h] in v
            r = (v <= got["p50"].iloc[h]).mean()
            assert 0.45 <= r <= 0.56
        # cascade to 1d: merged n equals total count; p50 within rank
        # error of the exact pooled median
        daily = cascade_quantile_sketch(hourly, "1d")
        drow = quantiles_from_sketch(daily, qs=(0.5,)).toPandas().iloc[0]
        assert drow["n"] == 300
        pooled = np.sort(np.concatenate(list(vals.values())))
        rank = (pooled <= drow["p50"]).mean()
        assert 0.40 <= rank <= 0.60

    def test_error_bound_large(self, spark):
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import (
            quantiles_from_sketch, rollup_quantile_sketch)

        pts = spark.range(100000).select(
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.col("id").cast("double").alias("value"))
        out = quantiles_from_sketch(
            rollup_quantile_sketch(pts, "1h", k=200),
            qs=(0.99,)).toPandas().iloc[0]
        assert abs(out["p99"] / 99000.0 - 1.0) < 0.04


class TestRetentionSketch:
    def test_matches_exact_in_sparse_regime(self, spark):
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import retention_sketch

        t0 = pd.Timestamp("2024-01-01")
        rows = []
        # day 0: users 0..99; day 7: users 50..129 -> retained 50
        for u in range(100):
            rows.append((f"u{u}", t0 + pd.Timedelta(minutes=u)))
        for u in range(50, 130):
            rows.append((f"u{u}", t0 + pd.Timedelta(days=7, minutes=u)))
        pts = spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts"]))
        out = (retention_sketch(pts, key_col="user_id", horizon_days=7)
               .toPandas().sort_values("day").reset_index(drop=True))
        assert len(out) == 2                 # day 7 kept as full churn
        row = out.iloc[0]
        assert row["day"] == t0
        assert row["active_est"] == 100      # theta exact below 4096
        assert row["retained_est"] == 50
        assert row["churned_est"] == 50
        last = out.iloc[1]                   # no day-14 events at all
        assert last["day"] == t0 + pd.Timedelta(days=7)
        assert last["active_est"] == 80
        assert last["retained_est"] == 0
        assert last["churned_est"] == 80


class TestStreamDistinct:
    def test_stream_sketches_feed_batch_cascade(self, spark, tmp_path):
        """Streaming hourly HLL sketches == the batch tier, and the
        emitted sketches cascade to the identical daily estimates."""
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import (cascade_distinct,
                                                         rollup_distinct)
        from dtaidistance_spark.streaming.rollup_stream import (
            stream_rollup_distinct)

        t0 = pd.Timestamp("2024-01-01")
        rows = []
        for h in range(30):
            for u in range(h % 9 + 1):
                rows.append((f"u{u + h % 3}",
                             t0 + pd.Timedelta(hours=h, minutes=u)))
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        src_dir, out_dir, ck_dir = (str(tmp_path / d)
                                    for d in ("d_src", "d_out", "d_ck"))
        spark.createDataFrame(pdf).write.parquet(src_dir)
        src = spark.readStream.schema(
            "user_id string, ts timestamp").parquet(src_dir)
        q = (stream_rollup_distinct(src, key_col="user_id")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck_dir)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        got = spark.read.parquet(out_dir)
        batch = rollup_distinct(spark.createDataFrame(pdf), "1h",
                                key_col="user_id")
        g = got.orderBy("bucket_ts").toPandas()
        b = batch.orderBy("bucket_ts").toPandas()
        # append mode emits only watermark-closed windows
        merged = g.merge(b, on="bucket_ts", suffixes=("_s", "_b"))
        assert len(merged) == len(g) > 0
        assert (merged["distinct_est_s"]
                == merged["distinct_est_b"]).all()
        # the streamed sketches feed the SAME daily cascade
        daily_s = (cascade_distinct(got, "1d")
                   .orderBy("bucket_ts").toPandas())
        daily_b = (cascade_distinct(
            batch.filter(F.col("bucket_ts")
                         .isin([pd.Timestamp(x) for x in
                                g["bucket_ts"]])), "1d")
            .orderBy("bucket_ts").toPandas())
        assert (daily_s["distinct_est"].values
                == daily_b["distinct_est"].values).all()


class TestFreqSketchRollup:
    """Misra-Gries heavy-hitters tier (operators/rollup.py
    rollup_freq_sketch / cascade_freq_sketch / freq_topk) — the
    frequency member of the mergeable-sketch family; the PODS'12
    merge bound [cnt, cnt + err] is asserted against exact counts."""

    def _points(self, spark, per_hour):
        """per_hour: {hour: {key: count}} → (series_id, ts) rows."""
        import pandas as pd
        t0 = pd.Timestamp("2024-01-01")
        rows = []
        for h, kc in per_hour.items():
            for key, c in kc.items():
                rows += [(key, t0 + pd.Timedelta(hours=h, seconds=i))
                         for i in range(c)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["series_id", "ts"]))

    def test_exact_when_within_capacity(self, spark):
        pts = self._points(spark, {0: {"a": 5, "b": 3}, 1: {"c": 2}})
        from dtaidistance_spark.operators.rollup import rollup_freq_sketch
        out = (rollup_freq_sketch(pts, "1h", k=4).toPandas()
               .sort_values("bucket_ts").reset_index(drop=True))
        assert (out["err"] == 0).all()
        h0 = {e["key"]: e["cnt"] for e in out.loc[0, "entries"]}
        assert h0 == {"a": 5, "b": 3}
        assert out.loc[0, "n"] == 8
        h1 = {e["key"]: e["cnt"] for e in out.loc[1, "entries"]}
        assert h1 == {"c": 2}

    def test_compression_bounds_and_coverage(self, spark):
        # 12 keys, zipf-ish; k=4 forces compression
        true = {f"k{i}": 40 // (i + 1) + 1 for i in range(12)}
        pts = self._points(spark, {0: true})
        from dtaidistance_spark.operators.rollup import rollup_freq_sketch
        k = 4
        row = rollup_freq_sketch(pts, "1h", k=k).toPandas().iloc[0]
        n = sum(true.values())
        assert row["n"] == n
        assert len(row["entries"]) <= k
        assert row["err"] <= n // (k + 1)
        kept = {e["key"]: e["cnt"] for e in row["entries"]}
        for key, est in kept.items():      # bracket: est <= true <= est+err
            assert est <= true[key] <= est + row["err"]
        for key, t in true.items():        # coverage: heavy keys survive
            if t > row["err"]:
                assert key in kept

    def test_cascade_identity_in_exact_regime(self, spark):
        pts = self._points(spark, {0: {"a": 5, "b": 3},
                                   1: {"a": 2, "c": 4},
                                   25: {"b": 7}})
        from dtaidistance_spark.operators.rollup import (
            cascade_freq_sketch, rollup_freq_sketch)
        k = 8   # capacity never exceeded -> cascade == direct, err 0
        hourly = rollup_freq_sketch(pts, "1h", k=k)
        casc = (cascade_freq_sketch(hourly, "1d", k=k).toPandas()
                .sort_values("bucket_ts").reset_index(drop=True))
        direct = (rollup_freq_sketch(pts, "1d", k=k).toPandas()
                  .sort_values("bucket_ts").reset_index(drop=True))
        assert (casc["err"] == 0).all()
        for i in range(len(casc)):
            assert ({e["key"]: e["cnt"] for e in casc.loc[i, "entries"]}
                    == {e["key"]: e["cnt"]
                        for e in direct.loc[i, "entries"]})
            assert casc.loc[i, "n"] == direct.loc[i, "n"]

    def test_cascade_bound_survives_compression(self, spark):
        import numpy as np
        rng = np.random.default_rng(7)
        per_hour = {}
        true_daily = {}
        for h in range(24):
            kc = {}
            for i in range(10):
                key = f"k{i}"
                c = int(rng.integers(1, 8)) + (30 if i < 2 else 0)
                kc[key] = c
                true_daily[key] = true_daily.get(key, 0) + c
            per_hour[h] = kc
        pts = self._points(spark, per_hour)
        from dtaidistance_spark.operators.rollup import (
            cascade_freq_sketch, freq_topk, rollup_freq_sketch)
        k = 4
        hourly = rollup_freq_sketch(pts, "1h", k=k)
        day = cascade_freq_sketch(hourly, "1d", k=k).toPandas().iloc[0]
        assert day["n"] == sum(true_daily.values())
        kept = {e["key"]: e["cnt"] for e in day["entries"]}
        for key, est in kept.items():
            assert est <= true_daily[key] <= est + day["err"]
        for key, t in true_daily.items():
            if t > day["err"]:
                assert key in kept
        # the two planted heavy keys must be the top-2, in order
        top = freq_topk(cascade_freq_sketch(hourly, "1d", k=k), 2
                        ).toPandas().sort_values("rank")
        assert list(top["key"]) == sorted(
            ["k0", "k1"], key=lambda s: (-true_daily[s], s))
        assert (top["est_hi"] == top["est"] + day["err"]).all()


class TestStreamFreq:
    def test_stream_counts_feed_freq_sketch_cascade(self, spark, tmp_path):
        """Streaming per-hour key counts, compressed by the SAME
        freq_sketch_from_counts as the batch tier, give identical MG
        summaries on closed windows — and the streamed summaries feed
        the identical daily cascade."""
        from pyspark.sql import functions as F

        from dtaidistance_spark.operators.rollup import (
            cascade_freq_sketch, freq_sketch_from_counts,
            rollup_freq_sketch)
        from dtaidistance_spark.streaming.rollup_stream import (
            stream_rollup_key_counts)

        t0 = pd.Timestamp("2024-01-01")
        rows = []
        for h in range(30):
            for u in range(h % 11 + 1):     # >k distinct in busy hours
                for _ in range(u + 1):
                    rows.append((f"u{u}",
                                 t0 + pd.Timedelta(hours=h, minutes=u)))
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        src_dir, out_dir, ck_dir = (str(tmp_path / d)
                                    for d in ("f_src", "f_out", "f_ck"))
        spark.createDataFrame(pdf).write.parquet(src_dir)
        src = spark.readStream.schema(
            "user_id string, ts timestamp").parquet(src_dir)
        q = (stream_rollup_key_counts(src, key_col="user_id")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck_dir)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        counts = spark.read.parquet(out_dir)
        k = 4
        got = (freq_sketch_from_counts(counts, k=k)
               .orderBy("bucket_ts").toPandas())
        batch = rollup_freq_sketch(spark.createDataFrame(pdf), "1h",
                                   key_col="user_id", k=k)
        b = batch.orderBy("bucket_ts").toPandas()
        merged = got.merge(b, on="bucket_ts", suffixes=("_s", "_b"))
        assert len(merged) == len(got) > 0
        for _, r in merged.iterrows():
            assert ({e["key"]: e["cnt"] for e in r["entries_s"]}
                    == {e["key"]: e["cnt"] for e in r["entries_b"]})
            assert r["err_s"] == r["err_b"] and r["n_s"] == r["n_b"]
        # streamed summaries feed the SAME daily cascade
        closed = [pd.Timestamp(x) for x in got["bucket_ts"]]
        daily_s = (cascade_freq_sketch(
            freq_sketch_from_counts(counts, k=k), "1d", k=k)
            .orderBy("bucket_ts").toPandas())
        daily_b = (cascade_freq_sketch(
            batch.filter(F.col("bucket_ts").isin(closed)), "1d", k=k)
            .orderBy("bucket_ts").toPandas())
        for i in range(len(daily_s)):
            assert ({e["key"]: e["cnt"]
                     for e in daily_s.loc[i, "entries"]}
                    == {e["key"]: e["cnt"]
                        for e in daily_b.loc[i, "entries"]})
            assert daily_s.loc[i, "err"] == daily_b.loc[i, "err"]


class TestCohortRetention:
    def test_hand_fixture_triangle(self, spark):
        from dtaidistance_spark.operators.rollup import cohort_retention
        t0 = pd.Timestamp("2024-03-01")
        act = {  # user -> active day offsets from t0; first = cohort
            "u1": [0, 1, 7],
            "u2": [0, 7],
            "u3": [0],
            "u4": [1, 2],          # cohort day 1
        }
        rows = []
        for u, days in act.items():
            for d in days:
                # two events the same day must not double-count
                rows.append((u, t0 + pd.Timedelta(days=d, hours=3)))
                rows.append((u, t0 + pd.Timedelta(days=d, hours=9)))
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts"]))
        got = (cohort_retention(df, "user_id", max_offset_days=7)
               .toPandas().set_index(["cohort_day", "offset_d"])
               .sort_index())
        c0 = pd.Timestamp("2024-03-01")
        c1 = pd.Timestamp("2024-03-02")
        assert got.loc[(c0, 0), "n_cohort"] == 3
        assert got.loc[(c0, 0), "rate"] == 1.0
        assert got.loc[(c0, 1), "n_active"] == 1      # u1
        assert got.loc[(c0, 7), "n_active"] == 2      # u1, u2
        assert got.loc[(c0, 7), "rate"] == 2 / 3
        assert got.loc[(c1, 0), "n_cohort"] == 1      # u4
        assert got.loc[(c1, 1), "n_active"] == 1
        # no offsets beyond K, no empty offsets materialized
        assert got.index.get_level_values("offset_d").max() <= 7
        assert (c0, 2) not in got.index

    def test_offset_zero_always_full(self, spark, rng):
        from dtaidistance_spark.operators.rollup import cohort_retention
        t0 = pd.Timestamp("2024-03-01")
        rows = []
        for u in range(40):
            base = int(rng.integers(0, 5))
            for d in sorted(set(int(x) for x in
                                rng.integers(0, 10, size=5))):
                rows.append((f"u{u}", t0 + pd.Timedelta(days=base + d)))
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts"]))
        got = cohort_retention(df, "user_id", max_offset_days=14).toPandas()
        z = got[got["offset_d"] == 0]
        assert (z["n_active"] == z["n_cohort"]).all()
        assert (z["rate"] == 1.0).all()
        assert (got["rate"] <= 1.0).all()
        # cohort sizes sum to the distinct-user total
        assert z["n_cohort"].sum() == 40


class TestFreqSketchRandomizedSweep:
    """Randomized multi-distribution sweep of the Misra-Gries
    guarantees: for every (distribution, k) config and every tier
    (hourly summary AND daily cascade), the PODS'12 contract must
    hold — est ≤ true ≤ est + err per kept key, every key with
    true > err kept, err ≤ n/(k+1) per compression level."""

    def test_bracket_coverage_all_configs(self, spark):
        import numpy as np
        rng = np.random.default_rng(101)
        t0 = pd.Timestamp("2024-05-01")
        rows = []
        true = {}          # (cfg, hour) -> {key: cnt}
        cfgs = []
        for c in range(6):
            kind = ["uniform", "zipf", "two-heavy"][c % 3]
            cfgs.append((f"c{c}", kind))
            for h in range(24):
                kc = {}
                nk = int(rng.integers(3, 20))
                for i in range(nk):
                    key = f"k{i}"
                    if kind == "uniform":
                        cnt = int(rng.integers(1, 10))
                    elif kind == "zipf":
                        cnt = max(1, int(30 / (i + 1)))
                    else:
                        cnt = (40 if i < 2 else int(rng.integers(1, 4)))
                    kc[key] = cnt
                    rows += [(f"c{c}", key,
                              t0 + pd.Timedelta(hours=h, seconds=s))
                             for s in range(cnt)]
                true[(f"c{c}", h)] = kc
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["grp", "series_id", "ts"]))
        from dtaidistance_spark.operators.rollup import (
            cascade_freq_sketch, rollup_freq_sketch)
        for k in (2, 4, 8):
            hourly = rollup_freq_sketch(df, "1h", group_col="grp", k=k)
            hp = hourly.toPandas()
            for _, r in hp.iterrows():
                h = (pd.Timestamp(r["bucket_ts"]) - t0).seconds // 3600
                tr = true[(r["grp"], h)]
                assert r["n"] == sum(tr.values())
                assert r["err"] <= r["n"] // (k + 1)
                kept = {e["key"]: e["cnt"] for e in r["entries"]}
                assert len(kept) <= k
                for key, est in kept.items():
                    assert est <= tr[key] <= est + r["err"]
                for key, t in tr.items():
                    if t > r["err"]:
                        assert key in kept
            day = cascade_freq_sketch(hourly, "1d", group_col="grp",
                                      k=k).toPandas()
            for _, r in day.iterrows():
                tr = {}
                for h in range(24):
                    for key, cnt in true[(r["grp"], h)].items():
                        tr[key] = tr.get(key, 0) + cnt
                assert r["n"] == sum(tr.values())
                kept = {e["key"]: e["cnt"] for e in r["entries"]}
                assert len(kept) <= k
                for key, est in kept.items():
                    assert est <= tr[key] <= est + r["err"]
                for key, t in tr.items():
                    if t > r["err"]:
                        assert key in kept

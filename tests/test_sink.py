"""Tiered parquet sink (sinks/tiers.py): roundtrip fidelity, dynamic
partition overwrite idempotency, O(partitions) retention, partition
pruning in the physical plan, and single-partition compaction."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dtaidistance_spark.operators import rollup as R
from dtaidistance_spark.operators.ingest import transcript_points
from dtaidistance_spark.sinks import refresh as RF
from dtaidistance_spark.sinks import snapshots as SN
from dtaidistance_spark.sinks import tiers as SK
from dtaidistance_spark.sources.transcripts import synth_transcripts

BASE = "/tmp/tier_sink_test"


@pytest.fixture(scope="module")
def agg1h(spark):
    tr = synth_transcripts(spark, n_convs=60, seed=7, max_turns=40)
    pts = transcript_points(tr)
    agg = R.rollup_cascade(R.rollup_points(pts, "1m"), "1h")
    return agg.persist()


@pytest.fixture()
def base():
    if os.path.isdir(BASE):
        shutil.rmtree(BASE)
    yield BASE
    if os.path.isdir(BASE):
        shutil.rmtree(BASE)


def _canon(df):
    return sorted(tuple(str(v) for v in r)
                  for r in df.select(*sorted(df.columns)).collect())


class TestTierSink:
    def test_roundtrip(self, spark, agg1h, base):
        SK.write_tier(agg1h, base, "1h")
        back = SK.read_tier(spark, base, "1h")
        assert _canon(back) == _canon(agg1h)

    def test_dynamic_overwrite_idempotent(self, spark, agg1h, base):
        """Writing the same batch twice must not duplicate or drop
        rows — the continuous-aggregate refresh pattern (recompute a
        window, overwrite only its days)."""
        SK.write_tier(agg1h, base, "1h")
        first = _canon(SK.read_tier(spark, base, "1h"))
        # rewrite only the latest day: other partitions stay untouched
        last_day = max(SK.list_partitions(base, "1h"))
        recent = agg1h.where(
            F.date_format("bucket_ts", SK.P_DAY_FMT) == last_day)
        SK.write_tier(recent, base, "1h")
        assert _canon(SK.read_tier(spark, base, "1h")) == first

    def test_two_tiers_coexist(self, spark, agg1h, base):
        agg1d = R.rollup_cascade(agg1h, "1d")
        SK.write_tier(agg1h, base, "1h")
        SK.write_tier(agg1d, base, "1d")
        assert _canon(SK.read_tier(spark, base, "1d")) == _canon(agg1d)
        assert _canon(SK.read_tier(spark, base, "1h")) == _canon(agg1h)

    def test_retention_drops_partitions_only(self, spark, agg1h, base):
        SK.write_tier(agg1h, base, "1h")
        days = SK.list_partitions(base, "1h")
        assert len(days) >= 3
        cutoff = days[len(days) // 2]
        dropped = SK.drop_expired(base, "1h", cutoff)
        assert dropped == [d for d in days if d < cutoff]
        assert SK.list_partitions(base, "1h") == \
            [d for d in days if d >= cutoff]
        # surviving rows equal a declarative retention filter on the agg
        kept = SK.read_tier(spark, base, "1h")
        expected = agg1h.where(
            F.date_format("bucket_ts", SK.P_DAY_FMT) >= cutoff)
        assert _canon(kept) == _canon(expected)

    def test_read_prunes_partitions(self, spark, agg1h, base):
        """The tier + day-range predicates must reach the scan as
        PartitionFilters — a 1d read over a 100 TB 1m tier must not
        list the 1m files."""
        SK.write_tier(agg1h, base, "1h")
        agg1d = R.rollup_cascade(agg1h, "1d")
        SK.write_tier(agg1d, base, "1d")
        days = SK.list_partitions(base, "1h")
        df = SK.read_tier(spark, base, "1h", since=days[-1])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "tier" in plan.split("PartitionFilters")[1][:200]
        # row-level check: only the last day's rows come back
        got = df.select(F.date_format("bucket_ts", SK.P_DAY_FMT)
                        .alias("d")).distinct().collect()
        assert {r["d"] for r in got} == {days[-1]}

    def test_stream_to_tiers(self, spark, agg1h, base, tmp_path):
        """Streaming 1m tier lands in the tiered layout (append per
        micro-batch) and equals the batch 1m rollup on the emitted
        (watermark-closed) windows; the batch refresh then overwrites
        the same partitions losslessly — the repair path."""
        from dtaidistance_spark.sources.transcripts import synth_transcripts
        from dtaidistance_spark.operators.ingest import transcript_points
        from dtaidistance_spark.streaming.rollup_stream import stream_to_tiers

        tr = synth_transcripts(spark, n_convs=10, seed=3, max_turns=60)
        pts = transcript_points(tr, kinds=("turn_rate",))
        src_dir = str(tmp_path / "src")
        pts.select("series_id", "ts", "value").write.parquet(src_dir)
        stream_to_tiers(
            spark, src_dir,
            schema="series_id string, ts timestamp, value double",
            base=base, checkpoint_dir=str(tmp_path / "ck"),
            series_expr="series_id")
        got = SK.read_tier(spark, base, "1m") \
            .orderBy("series_id", "bucket_ts").toPandas()
        batch = R.rollup_points(pts, "1m") \
            .select("series_id", "bucket_ts", "cnt", "sum", "min", "max") \
            .orderBy("series_id", "bucket_ts").toPandas()
        merged = got.merge(batch, on=["series_id", "bucket_ts"],
                           suffixes=("_s", "_b"))
        assert len(merged) == len(got) > 0
        assert (merged["cnt_s"].values == merged["cnt_b"].values).all()
        # batch repair: dynamic-overwrite the same tier from the full
        # batch rollup; the table then equals the batch tier exactly
        full = R.rollup_points(pts, "1m") \
            .select("series_id", "bucket_ts", "cnt", "sum", "min", "max")
        SK.write_tier(full, base, "1m")
        assert _canon(SK.read_tier(spark, base, "1m")) == _canon(full)

    def test_compact_tier(self, spark, agg1h, base):
        SK.write_tier(agg1h.repartition(8), base, "1h")
        day = SK.list_partitions(base, "1h")[0]
        pdir = os.path.join(base, "tier=1h", f"p_day={day}")
        before = _canon(SK.read_tier(spark, base, "1h"))
        n_before = len([f for f in os.listdir(pdir)
                        if f.endswith(".parquet")])
        assert n_before > 1
        SK.compact_tier(spark, base, "1h", day, target_files=1)
        n_after = len([f for f in os.listdir(pdir)
                       if f.endswith(".parquet")])
        assert n_after == 1
        assert _canon(SK.read_tier(spark, base, "1h")) == before


class TestSnapshotSink:
    """Snapshot commits / time travel (sinks/snapshots.py): copy-on-write
    refresh, manifest-pruned reads, reader isolation across a concurrent
    commit, retention as a metadata commit, expire + orphan cleanup."""

    def _refresh_day(self, agg, day):
        """A re-aggregation of one day whose values visibly changed."""
        return (agg.where(F.date_format("bucket_ts", "yyyy-MM-dd") == day)
                .withColumn("sum", F.col("sum") * 2)
                .withColumn("max", F.col("max") * 2))

    def test_commit_and_latest_read(self, spark, agg1h, base):
        sid = SN.commit_tier(agg1h, base, "1h")
        assert sid == 1
        got = SN.read_tier(spark, base, "1h")
        assert _canon(got) == _canon(agg1h)
        man = SN.load_manifest(base, "1h")
        assert man["summary"]["rows"] == agg1h.count()
        # per-partition metrics agree with the data
        days = dict(agg1h.groupBy(
            F.date_format("bucket_ts", "yyyy-MM-dd").alias("d"))
            .count().collect())
        assert {d: e["rows"] for d, e in man["partitions"].items()} == days

    def test_time_travel_after_refresh(self, spark, agg1h, base):
        SN.commit_tier(agg1h, base, "1h")
        day = sorted(SN.load_manifest(base, "1h")["partitions"])[0]
        SN.commit_tier(self._refresh_day(agg1h, day), base, "1h")
        m1 = SN.load_manifest(base, "1h", 1)
        m2 = SN.load_manifest(base, "1h", 2)
        # untouched days carried over file-for-file, refreshed day rewritten
        other = sorted(set(m1["partitions"]) - {day})[0]
        assert m1["partitions"][other] == m2["partitions"][other]
        assert m1["partitions"][day]["files"] != m2["partitions"][day]["files"]
        # v1 still reads the original values; latest reads the refresh
        assert _canon(SN.read_tier(spark, base, "1h", snapshot=1)) \
            == _canon(agg1h)
        want2 = agg1h.where(
            F.date_format("bucket_ts", "yyyy-MM-dd") != day) \
            .unionByName(self._refresh_day(agg1h, day))
        assert _canon(SN.read_tier(spark, base, "1h")) == _canon(want2)

    def test_reader_isolation_across_commit(self, spark, agg1h, base):
        SN.commit_tier(agg1h, base, "1h")
        day = sorted(SN.load_manifest(base, "1h")["partitions"])[0]
        v1 = SN.read_tier(spark, base, "1h", snapshot=1)  # plan built pre-commit
        SN.commit_tier(self._refresh_day(agg1h, day), base, "1h")
        # the lazy v1 plan executes AFTER the new commit and still sees v1
        assert _canon(v1) == _canon(agg1h)

    def test_manifest_pruned_day_range(self, spark, agg1h, base):
        SN.commit_tier(agg1h, base, "1h")
        days = sorted(SN.load_manifest(base, "1h")["partitions"])
        lo, hi = days[1], days[-2]
        got = SN.read_tier(spark, base, "1h", since=lo, until=hi)
        want = agg1h.where(
            F.date_format("bucket_ts", "yyyy-MM-dd").between(lo, hi))
        assert _canon(got) == _canon(want)
        # pruning happened on the driver: the scan holds only in-range files
        files = [f for f in got.inputFiles()]
        assert files and all(lo <= f.split("p_day=")[1][:10] <= hi
                             for f in files)

    def test_retention_is_metadata_only(self, spark, agg1h, base):
        SN.commit_tier(agg1h, base, "1h")
        days = sorted(SN.load_manifest(base, "1h")["partitions"])
        keep_since = days[2]
        sid = SN.commit_retention(base, "1h", keep_since)
        assert sorted(SN.load_manifest(base, "1h", sid)["partitions"]) \
            == [d for d in days if d >= keep_since]
        # expired days still on disk and still readable from v1
        assert _canon(SN.read_tier(spark, base, "1h", snapshot=1)) \
            == _canon(agg1h)
        latest = SN.read_tier(spark, base, "1h")
        want = agg1h.where(
            F.date_format("bucket_ts", "yyyy-MM-dd") >= keep_since)
        assert _canon(latest) == _canon(want)

    def test_expire_snapshots_orphan_cleanup(self, spark, agg1h, base):
        SN.commit_tier(agg1h, base, "1h")
        day = sorted(SN.load_manifest(base, "1h")["partitions"])[0]
        SN.commit_tier(self._refresh_day(agg1h, day), base, "1h")
        stats = SN.expire_snapshots(base, "1h", keep_last=1)
        assert stats["expired_snapshots"] == 1
        assert stats["deleted_files"] \
            == len(SN.load_manifest(base, "1h", 2)["partitions"][day]["files"])
        assert SN.snapshot_ids(base, "1h") == [2]
        # latest unharmed; time travel to v1 is gone by design
        want2 = agg1h.where(
            F.date_format("bucket_ts", "yyyy-MM-dd") != day) \
            .unionByName(self._refresh_day(agg1h, day))
        assert _canon(SN.read_tier(spark, base, "1h")) == _canon(want2)
        with pytest.raises(FileNotFoundError):
            SN.load_manifest(base, "1h", 1)


@pytest.fixture(scope="module")
def agg1m(spark):
    tr = synth_transcripts(spark, n_convs=60, seed=7, max_turns=40)
    return R.rollup_points(transcript_points(tr), "1m").persist()


class TestIncrementalRefresh:
    """Manifest-diff-driven cascade refresh (sinks/refresh.py): initial
    full build, changed-day-only recompute, and no-op detection."""

    def _bump_day(self, agg, day):
        return (agg.where(F.date_format("bucket_ts", "yyyy-MM-dd") == day)
                .withColumn("sum", F.col("sum") + 1)
                .withColumn("last", F.col("last") + 1))

    def test_initial_full_refresh(self, spark, agg1m, base):
        SN.commit_tier(agg1m, base, "1m")
        sid = RF.refresh_cascade(spark, base, "1m", "1h")
        assert sid == 1
        got = SN.read_tier(spark, base, "1h")
        assert _canon(got) == _canon(R.rollup_cascade(agg1m, "1h"))
        man = SN.load_manifest(base, "1h")
        assert man["source_snapshot"] == 1
        assert man["refreshed_days"] == sorted(man["partitions"])

    def test_incremental_refresh_touches_changed_day_only(
            self, spark, agg1m, base):
        SN.commit_tier(agg1m, base, "1m")
        RF.refresh_cascade(spark, base, "1m", "1h")
        day = sorted(SN.load_manifest(base, "1m")["partitions"])[1]
        SN.commit_tier(self._bump_day(agg1m, day), base, "1m")
        sid = RF.refresh_cascade(spark, base, "1m", "1h")
        man = SN.load_manifest(base, "1h", sid)
        assert man["refreshed_days"] == [day]
        # unchanged 1h days carried over file-for-file
        prev = SN.load_manifest(base, "1h", sid - 1)["partitions"]
        for d, e in man["partitions"].items():
            if d != day:
                assert e == prev[d]
        # incremental result == full batch recompute over the new source
        src_now = SN.read_tier(spark, base, "1m")
        assert _canon(SN.read_tier(spark, base, "1h")) \
            == _canon(R.rollup_cascade(src_now, "1h"))

    def test_noop_refresh_skips_commit(self, spark, agg1m, base):
        SN.commit_tier(agg1m, base, "1m")
        RF.refresh_cascade(spark, base, "1m", "1h")
        assert RF.refresh_cascade(spark, base, "1m", "1h") is None
        assert SN.snapshot_ids(base, "1h") == [1]

    def test_second_cascade_level(self, spark, agg1m, base):
        SN.commit_tier(agg1m, base, "1m")
        RF.refresh_cascade(spark, base, "1m", "1h")
        RF.refresh_cascade(spark, base, "1h", "1d")
        got = SN.read_tier(spark, base, "1d")
        want = R.rollup_cascade(R.rollup_cascade(agg1m, "1h"), "1d")
        assert _canon(got) == _canon(want)


class TestSnapshotStreaming:
    """Exactly-once streaming into the snapshot sink
    (streaming/rollup_stream.py::stream_to_snapshots) and the append
    commit mode that makes it possible."""

    def test_append_mode_merges_days(self, spark, agg1m, base):
        days = F.date_format("bucket_ts", "yyyy-MM-dd")
        d0 = sorted(r[0] for r in
                    agg1m.select(days.alias("d")).distinct().collect())[0]
        half_a = agg1m.where((days == d0) & (F.col("cnt") % 2 == 0))
        half_b = agg1m.where((days == d0) & (F.col("cnt") % 2 == 1))
        SN.commit_tier(half_a, base, "1m", mode="append")
        SN.commit_tier(half_b, base, "1m", mode="append")
        got = SN.read_tier(spark, base, "1m")
        assert _canon(got) == _canon(half_a.unionByName(half_b))
        # the day's manifest entry carries both commits' files
        man = SN.load_manifest(base, "1m")
        assert any(f.startswith("part-v1-") for f in man["partitions"][d0]["files"])
        assert any(f.startswith("part-v2-") for f in man["partitions"][d0]["files"])

    def test_stream_exactly_once(self, spark, base, tmp_path):
        from dtaidistance_spark.sources.transcripts import synth_transcripts
        from dtaidistance_spark.operators.ingest import transcript_points
        from dtaidistance_spark.streaming.rollup_stream import (
            stream_to_snapshots)

        tr = synth_transcripts(spark, n_convs=10, seed=3, max_turns=60)
        pts = transcript_points(tr, kinds=("turn_rate",))
        src_dir = str(tmp_path / "src")
        pts.select("series_id", "ts", "value").write.parquet(src_dir)
        stream_to_snapshots(
            spark, src_dir,
            schema="series_id string, ts timestamp, value double",
            base=base, checkpoint_dir=str(tmp_path / "ck"),
            series_expr="series_id")
        ids = SN.snapshot_ids(base, "1m")
        assert ids
        got = SN.read_tier(spark, base, "1m") \
            .orderBy("series_id", "bucket_ts").toPandas()
        batch = R.rollup_points(pts, "1m") \
            .select("series_id", "bucket_ts", "cnt", "sum", "min", "max") \
            .orderBy("series_id", "bucket_ts").toPandas()
        merged = got.merge(batch, on=["series_id", "bucket_ts"],
                           suffixes=("_s", "_b"))
        assert len(merged) == len(got) > 0
        assert (merged["cnt_s"].values == merged["cnt_b"].values).all()
        # replay the whole stream from a FRESH checkpoint (batch ids
        # restart at 0): every batch is detected as already committed,
        # so no snapshot advances and the table is unchanged
        canon_before = _canon(SN.read_tier(spark, base, "1m"))
        stream_to_snapshots(
            spark, src_dir,
            schema="series_id string, ts timestamp, value double",
            base=base, checkpoint_dir=str(tmp_path / "ck2"),
            series_expr="series_id")
        assert SN.snapshot_ids(base, "1m") == ids
        assert _canon(SN.read_tier(spark, base, "1m")) == canon_before


def _unsorted_files(root):
    """The parquet files under ``root`` whose rows are not in
    (series_id, bucket_ts) order."""
    import glob

    import pyarrow.parquet as pq
    bad = []
    files = sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                             recursive=True))
    assert files
    for path in files:
        t = pq.read_table(path, columns=["series_id", "bucket_ts"])
        keys = list(zip(t["series_id"].to_pylist(),
                        t["bucket_ts"].to_pylist()))
        if keys != sorted(keys):
            bad.append(path)
    return bad


class TestFileOrder:
    """Each written file is sorted by (series_id, bucket_ts), as both
    sinks document, so parquet min/max stats prune series_id inside a
    day; Spark's planned write must not replace that sort."""

    def test_write_tier_files_sorted(self, agg1h, base):
        SK.write_tier(agg1h, base, "1h")
        SK.write_tier(agg1h.repartition(8), base, "1h", mode="append")
        assert _unsorted_files(base) == []

    def test_commit_tier_files_sorted(self, agg1h, base):
        SN.commit_tier(agg1h, base, "1h")
        SN.commit_tier(agg1h.repartition(8), base, "1h", mode="append")
        assert _unsorted_files(base) == []


class TestSnapshotSchema:
    """The manifest records the table schema, so a snapshot read infers
    nothing and lists nothing through Spark."""

    def test_read_starts_no_job(self, spark, agg1h, base):
        SN.commit_tier(agg1h.repartition(8), base, "1h")
        man = SN.load_manifest(base, "1h")
        assert sum(len(e["files"]) for e in man["partitions"].values()) > 32
        sc = spark.sparkContext
        group = "snapshot-read-jobs"
        sc.setJobGroup(group, "snapshots.read_tier call")
        try:
            got = SN.read_tier(spark, base, "1h")
            empty = SN.read_tier(spark, base, "1h", days=set())
        finally:
            sc.setJobGroup(None, None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert got.columns == agg1h.columns == empty.columns
        assert _canon(got) == _canon(agg1h)
        assert empty.count() == 0

    def test_retention_keeps_schema(self, spark, agg1h, base):
        SN.commit_tier(agg1h, base, "1h")
        days = sorted(SN.load_manifest(base, "1h")["partitions"])
        sid = SN.commit_retention(base, "1h", days[1])
        assert SN.load_manifest(base, "1h", sid)["schema"] \
            == SN.load_manifest(base, "1h", sid - 1)["schema"]
        assert SN.read_tier(spark, base, "1h").schema \
            == SN.read_tier(spark, base, "1h", snapshot=1).schema

    def test_manifest_without_schema_raises(self, spark, agg1h, base):
        import json
        SN.commit_tier(agg1h, base, "1h")
        path = os.path.join(base, "_snapshots", "1h", "v1.json")
        with open(path) as f:
            man = json.load(f)
        del man["schema"]
        with open(path, "w") as f:
            json.dump(man, f)
        with pytest.raises(ValueError, match="v1.json"):
            SN.read_tier(spark, base, "1h")
        with pytest.raises(ValueError, match="v1.json"):
            SN.commit_retention(base, "1h", "2000-01-01")

    def test_append_with_other_schema_raises(self, agg1h, base):
        SN.commit_tier(agg1h, base, "1h", mode="append")
        # nullability alone is not a difference: parquet columns are
        # all nullable
        SN.commit_tier(agg1h.where(F.col("sum").isNotNull()), base, "1h",
                       mode="append")
        with pytest.raises(ValueError, match="differs from snapshot v2"):
            SN.commit_tier(agg1h.withColumn("sum", F.col("sum").cast("string")),
                           base, "1h", mode="append")
        assert SN.snapshot_ids(base, "1h") == [1, 2]

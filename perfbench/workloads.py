"""The workloads: the ops one pass runs, the traced decomposition of a
pass into layers, and the untimed output checks.

Each op is timed from the call of its public query function
(``plans.driver_queries.q_*``) until a noop-sink write of its result
completes, so work done eagerly inside the call counts.  The one
exception is ``tier_sink_roundtrip``: ``q_tier_sink_roundtrip`` writes
under a fixed ``/tmp`` path, so the op repeats its body here, step for
step through the same public sink functions, with its tables under the
benchmark's own work directory.

A traced pass runs the cumulative prefixes of each op's plan, each
prefix from a released session and under its own Spark job group; a
layer's self time is its prefix minus the previous prefix.  Eager calls
(``with_index``, ``distance_matrix``, the sink writes) are spans of
their own.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dtaidistance_spark import resources
from dtaidistance_spark.kernels import _dtwc
from dtaidistance_spark.kernels.dtw import (DtwSettings, dtw_distance,
                                            dtw_distance_batch_indexed)
from dtaidistance_spark.kernels.subsequence import (best_match_value,
                                                    matching_function_batch)
from dtaidistance_spark.operators import rollup as R
from dtaidistance_spark.operators.compress import compress_tier
from dtaidistance_spark.operators.matrix import distance_matrix, with_index
from dtaidistance_spark.plans import driver_queries as DQ
from dtaidistance_spark.sinks import refresh as RF
from dtaidistance_spark.sinks import snapshots as SN
from dtaidistance_spark.sinks import tiers as SK

from tracing import executed_plan, seconds

# q_dtw_distance_matrix's settings and q_subsequence_topk's motif and k
DTW_SETTINGS = DtwSettings(window=24)
MOTIF = np.concatenate([np.zeros(6), np.linspace(0, 3, 6),
                        np.linspace(3, 0, 6), np.zeros(6)])
TOPK = 10
# pairs whose distance is recomputed in-process and compared with ==
CHECK_PAIRS = 1000
# fixed pair sample of the single-thread kernel microbench
KERNEL_PAIRS = 20_000


def force(df: DataFrame) -> None:
    """Materialize every column of the plan; nothing is collected."""
    df.write.format("noop").mode("overwrite").save()


def release(spark) -> float:
    """Free every persisted frame and broadcast; returns seconds spent."""
    t0 = time.perf_counter()
    resources.release_all()
    spark.catalog.clearCache()
    return time.perf_counter() - t0


def spark_round6(x: float) -> float:
    """``F.round(x, 6)`` for a double: HALF_UP on its shortest decimal."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _span(tr, name):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def _named(agg: DataFrame) -> DataFrame:
    """The output projection of the rollup queries in ``driver_queries``."""
    return agg.select(
        "series_id", "bucket_ts", "cnt",
        F.round("sum", 6).alias("sum_val"),
        F.col("min").alias("min_val"), F.col("max").alias("max_val"),
        F.col("first").alias("first_val"), F.col("last").alias("last_val"))


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _digest(con, relation: str) -> tuple:
    """(sorted column names, rows, order-insensitive value hash) of a
    DuckDB relation.  Doubles compare at 6 decimals, timestamps as epoch
    microseconds, everything else as text."""
    cols = con.sql(f"DESCRIBE {relation}").fetchall()
    exprs = []
    for name, dtype, *_ in sorted(cols):
        c = f'"{name}"'
        if dtype in ("DOUBLE", "FLOAT") or dtype.startswith("DECIMAL"):
            e = f"printf('%.6f', {c}::DOUBLE)"
        elif dtype.startswith("TIMESTAMP"):
            e = f"epoch_us({c})::VARCHAR"
        elif dtype == "DATE":
            e = f"epoch_us({c}::TIMESTAMP)::VARCHAR"
        else:
            e = f"{c}::VARCHAR"
        exprs.append(f"coalesce({e}, 'NULL')")
    n, h = con.sql(f"SELECT count(*), sum(hash({', '.join(exprs)})::HUGEINT)"
                   f" FROM {relation}").fetchone()
    return tuple(sorted(c[0] for c in cols)), int(n), int(h or 0)


def duck_connect(events_path: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads TO {int(threads)}")
    con.sql("SET memory_limit = '1GB'")
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    return con


def check_against_oracle(con, name: str, table) -> tuple:
    """Spark output (Arrow) vs ``driver_queries.ORACLES[name]`` on DuckDB:
    same columns, rows and value hash."""
    con.register("spark_out", table)
    try:
        got = _digest(con, "spark_out")
        want = _digest(con, f"({DQ.ORACLES[name]})")
    finally:
        con.unregister("spark_out")
    if got == want:
        return True, f"{got[1]} rows, hash match"
    return False, f"spark {got} != oracle {want}"


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One workload over one generated ``events.parquet`` directory."""

    name = ""
    ops: list = []          # (op name, "read" | "write")

    def __init__(self, spark, data_dir: str, work_dir: str, threads: int):
        self.spark = spark
        self.d = data_dir
        self.work = work_dir
        self.threads = threads

    def build(self, op: str) -> DataFrame:
        return getattr(DQ, "q_" + op)(self.spark, self.d)

    def paths(self, op: str, df: DataFrame) -> dict:
        """Physical-path record of one op, read from its plan: scan spread
        on or off, and Hash or Sort aggregate where it aggregates."""
        plan = executed_plan(df)
        out = {"scan_spread": int("RoundRobinPartitioning" in plan)}
        if "Aggregate" in plan:
            out["hash_agg"] = int("SortAggregate" not in plan)
        return out

    def check(self, outputs: dict) -> dict:
        """{op: (ok, detail)} for the warm-up pass's Arrow outputs."""
        raise NotImplementedError

    def traced_pass(self, tr) -> tuple:
        """Run one traced pass; returns ({key: span}, {metric: value}),
        with a span under every op name."""
        raise NotImplementedError

    def traced_extra(self, tr) -> tuple:
        """Layers outside the workload's ops, traced after a traced pass
        and outside its wall time; same return as :meth:`traced_pass`."""
        return {}, {}

    def layers(self, spans: dict, st) -> dict:
        """Per-layer metrics of one traced pass from its spans and their
        stage metrics (``tracing.SpanStats``)."""
        raise NotImplementedError

    def run_extras(self, outputs: dict, trace: bool) -> dict:
        """Per-run counts, and in a traced run the layer counts and the
        kernel microbench.  Untimed; runs after the passes and before
        :meth:`check`."""
        return {}

    # -- traced-pass helpers ------------------------------------------------
    def prefix(self, tr, name: str, build):
        """Run one cumulative plan prefix from a released session, under
        its own job group; returns its span."""
        release(self.spark)
        with tr.span(name) as rec:
            force(build())
        return rec


class Tiers(Workload):
    name = "tiers"
    ops = [("rollup_1m", "read"), ("rollup_1h_cascade", "read"),
           ("rollup_1d_cascade", "read"), ("gap_fill_1h", "read"),
           ("compress_roundtrip_1h", "write"),
           ("tier_sink_roundtrip", "write")]

    def build(self, op: str, tr=None) -> DataFrame:
        if op != "tier_sink_roundtrip":
            return super().build(op)
        # q_tier_sink_roundtrip's steps, with the tables under work/
        spark = self.spark
        base_s = os.path.join(self.work, "tier_snap")
        base_d = os.path.join(self.work, "tier_sink")
        shutil.rmtree(base_s, ignore_errors=True)
        shutil.rmtree(base_d, ignore_errors=True)
        agg1m = R.rollup_points(DQ.event_points_rollup(spark, self.d), "1m")
        with _span(tr, "sink.commit"):
            SN.commit_tier(agg1m, base_s, "1m")
        with _span(tr, "sink.refresh"):
            RF.refresh_cascade(spark, base_s, "1m", "1h")
        with _span(tr, "sink.read_snapshot"):
            agg1h = SN.read_tier(spark, base_s, "1h")
        with _span(tr, "sink.write"):
            SK.write_tier(agg1h, base_d, "1h")
        return _named(SK.read_tier(spark, base_d, "1h"))

    def check(self, outputs: dict) -> dict:
        con = duck_connect(os.path.join(self.d, "events.parquet"),
                           self.threads)
        try:
            return {op: check_against_oracle(con, op, outputs[op])
                    for op, _ in self.ops}
        finally:
            con.close()

    def run_extras(self, outputs: dict, trace: bool) -> dict:
        agg1h = R.rollup_points(DQ.event_points_rollup(self.spark, self.d),
                                "1h")
        payload = compress_tier(agg1h, value_col="sum").agg(
            F.sum(F.length("payload")).alias("b")).collect()[0]["b"]
        points = outputs["compress_roundtrip_1h"].num_rows
        release(self.spark)
        return {"compress.payload_bytes": int(payload),
                "bytes_per_point": int(payload) / points,
                "points_1h": points}

    def traced_pass(self, tr) -> tuple:
        spark, d = self.spark, self.d
        pts = lambda: DQ.event_points_rollup(spark, d)  # noqa: E731
        s = {}
        s["scan"] = self.prefix(tr, "scan", pts)
        s["rollup_1m"] = self.prefix(tr, "op:rollup_1m",
                                     lambda: DQ.q_rollup_1m(spark, d))
        s["rollup_1h_cascade"] = self.prefix(
            tr, "op:rollup_1h_cascade",
            lambda: DQ.q_rollup_1h_cascade(spark, d))
        s["rollup_1d_cascade"] = self.prefix(
            tr, "op:rollup_1d_cascade",
            lambda: DQ.q_rollup_1d_cascade(spark, d))
        s["1h"] = self.prefix(tr, "rollup.1h",
                              lambda: R.rollup_points(pts(), "1h"))
        s["gap_fill_1h"] = self.prefix(tr, "op:gap_fill_1h",
                                       lambda: DQ.q_gap_fill_1h(spark, d))
        s["encode"] = self.prefix(
            tr, "compress.encode",
            lambda: compress_tier(R.rollup_points(pts(), "1h"),
                                  value_col="sum"))
        s["compress_roundtrip_1h"] = self.prefix(
            tr, "op:compress_roundtrip_1h",
            lambda: DQ.q_compress_roundtrip_1h(spark, d))
        release(spark)
        with tr.span("op:tier_sink_roundtrip") as rec:
            df = self.build("tier_sink_roundtrip", tr)
            with tr.span("sink.read_final"):
                force(df)
        s["tier_sink_roundtrip"] = rec
        sink_bytes = tree_bytes(self.work)
        return s, {"sink.bytes_written": sink_bytes}

    def layers(self, s: dict, st) -> dict:
        T = seconds
        by = {sp["name"]: sp for sp in st.spans_of(s["tier_sink_roundtrip"])}
        return {
            "scan.s": T(s["scan"]),
            "rollup.1m_s": T(s["rollup_1m"]) - T(s["scan"]),
            "rollup.1h_s": T(s["rollup_1h_cascade"]) - T(s["rollup_1m"]),
            "rollup.1d_s": T(s["rollup_1d_cascade"])
            - T(s["rollup_1h_cascade"]),
            "rollup.gap_fill_s": T(s["gap_fill_1h"]) - T(s["1h"]),
            "rollup.shuffle_write_bytes":
                st.incl(s["rollup_1d_cascade"])["shuffle_write_bytes"]
                - st.incl(s["scan"])["shuffle_write_bytes"],
            "rollup.spill_bytes":
                st.incl(s["rollup_1d_cascade"])["spill_bytes"],
            "compress.encode_s": T(s["encode"]) - T(s["1h"]),
            "compress.decode_s": T(s["compress_roundtrip_1h"])
            - T(s["encode"]),
            "sink.commit_s": T(by["sink.commit"]),
            "sink.refresh_s": T(by["sink.refresh"]),
            "sink.write_s": T(by["sink.write"]),
            "sink.read_s": T(by["sink.read_snapshot"])
            + T(by["sink.read_final"]),
        }


def _kernel_bench(V: np.ndarray) -> dict:
    """Single-thread in-process kernel time on a fixed pair sample of the
    corpus; median of five repeats."""
    rng = np.random.default_rng(7)
    n, L = V.shape
    pi = rng.integers(0, n, KERNEL_PAIRS)
    pj = rng.integers(0, n, KERNEL_PAIRS)
    dtw_distance_batch_indexed(V, pi[:256], pj[:256], settings=DTW_SETTINGS)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        dtw_distance_batch_indexed(V, pi, pj, settings=DTW_SETTINGS)
        times.append(time.perf_counter() - t0)
    w = DTW_SETTINGS.window
    i = np.arange(L)
    cells = int(np.sum(np.minimum(L, i + w) - np.maximum(0, i - w + 1)))
    return {"kernel.us_per_pair": statistics.median(times) * 1e6
            / KERNEL_PAIRS, "kernel.cells_per_pair": cells}


def check_matrix(ids: list, V: np.ndarray, tb) -> tuple:
    """n(n-1)/2 rows, and a fixed pair sample equal under == to
    in-process ``dtw_distance`` rounded as the query rounds."""
    n = len(ids)
    want_rows = n * (n - 1) // 2
    if tb.num_rows != want_rows:
        return False, f"{tb.num_rows} rows, want {want_rows}"
    ii = tb.column("i").to_numpy()
    jj = tb.column("j").to_numpy()
    dd = tb.column("d").to_numpy()
    rng = np.random.default_rng(11)
    pick = rng.choice(len(ii), size=min(CHECK_PAIRS, len(ii)),
                      replace=False)
    bad = []
    for k in pick:
        want = spark_round6(dtw_distance(V[ii[k]], V[jj[k]],
                                         settings=DTW_SETTINGS))
        if not dd[k] == want:
            bad.append((int(ii[k]), int(jj[k]), float(dd[k]), want))
    if bad:
        return False, f"{len(bad)}/{len(pick)} pairs differ: {bad[:3]}"
    return True, f"{tb.num_rows} rows, {len(pick)} pairs =="


def check_topk(ids: list, V: np.ndarray, tb) -> tuple:
    """Spark's top-k motif matches (Arrow) vs an in-process brute force
    with ``best_match_value`` over the collected arrays."""
    vals = matching_function_batch(MOTIF, V).min(axis=1)
    order = sorted(range(len(ids)), key=lambda k: (vals[k], ids[k]))
    top = order[:TOPK]
    # the batched matching function must agree with the scalar
    # best_match_value on the top-k and on a fixed sample
    sample = list(top) + list(range(0, len(ids), max(1, len(ids) // 50)))
    off = [k for k in sample if best_match_value(MOTIF, V[k]) != vals[k]]
    if off:
        return False, f"batched != best_match_value at {off[:3]}"
    want = [(ids[k], spark_round6(vals[k])) for k in top]
    got = list(zip(tb.column("series_id").to_pylist(),
                   tb.column("match_value").to_pylist()))
    if got != want:
        return False, f"{got} != {want}"
    return True, f"top-{TOPK} == brute force over {len(ids)} series"


class DtwMatrix(Workload):
    """The all-pairs matrix over the dense hourly arrays (scan → 1h rollup
    → ``hourly_series``: global gap-fill + series_arrays).  Its traced run
    also times the subsequence search on the same arrays, outside the
    timed pass, and checks that search's top-k."""

    name = "dtw_matrix"
    ops = [("dtw_distance_matrix", "read")]

    def paths(self, op: str, df: DataFrame) -> dict:
        # the matrix op's own plan starts after the eager upstream, so the
        # scan and rollup paths are read from the upstream 1h tier plan
        up = executed_plan(R.rollup_points(
            DQ.event_points_rollup(self.spark, self.d), "1h"))
        plan = executed_plan(df)
        return {"scan_spread": int("RoundRobinPartitioning" in up),
                "hash_agg": int("SortAggregate" not in up),
                "c_kernel": int(_dtwc.lib() is not None),
                "matrix_broadcast": int("FlatMapGroupsInPandas" not in plan
                                        and "MapInPandas" in plan)}

    def corpus(self):
        """(series ids in with_index order, (n, L) values matrix)."""
        tb = DQ.hourly_series(self.spark, self.d).select(
            "series_id", "values").toArrow()
        release(self.spark)
        ids = tb.column("series_id").to_pylist()
        order = sorted(range(len(ids)), key=lambda k: ids[k])
        vals = tb.column("values").to_pylist()
        V = np.array([vals[k] for k in order], dtype=np.float64)
        return [ids[k] for k in order], V

    def run_extras(self, outputs: dict, trace: bool) -> dict:
        ids, V = self.corpus()
        self._corpus = (ids, V)
        n = len(ids)
        out = {"n_series": n, "series_len": int(V.shape[1]),
               "pairs": n * (n - 1) // 2}
        if not trace:
            return out
        out.update(_kernel_bench(V))
        agg1h = R.rollup_points(DQ.event_points_rollup(self.spark, self.d),
                                "1h")
        out["dense.grid_rows"] = R.gap_fill(
            agg1h, "1h", policy="zero", align="global",
            span_cap=DQ.HOURLY_SPAN_CAP).count()
        self._topk = DQ.q_subsequence_topk(self.spark, self.d).toArrow()
        release(self.spark)
        return out

    def check(self, outputs: dict) -> dict:
        ids, V = self._corpus
        out = {"dtw_distance_matrix": check_matrix(
            ids, V, outputs["dtw_distance_matrix"])}
        if hasattr(self, "_topk"):
            out["subsequence_topk"] = check_topk(ids, V, self._topk)
        return out

    def traced_pass(self, tr) -> tuple:
        spark, d = self.spark, self.d
        s = {}
        s["scan"] = self.prefix(tr, "scan",
                                lambda: DQ.event_points_rollup(spark, d))
        s["1h"] = self.prefix(
            tr, "rollup.1h",
            lambda: R.rollup_points(DQ.event_points_rollup(spark, d), "1h"))
        s["dense"] = self.prefix(tr, "dense",
                                 lambda: DQ.hourly_series(spark, d))
        release(spark)
        collected = []
        with arrow_bytes(spark, collected):
            with tr.span("op:dtw_distance_matrix") as rec:
                with tr.span("matrix.index"):
                    series = with_index(DQ.hourly_series(spark, d),
                                        order_col="series_id")
                with tr.span("matrix.prepare"):
                    dist = distance_matrix(series, settings=DTW_SETTINGS,
                                           chunk_size=128)
                out = dist.select("i", "j", F.round("d", 6).alias("d"))
                with tr.span("matrix.force"):
                    force(out)
        s["dtw_distance_matrix"] = rec
        return s, {"matrix.collect_bytes": sum(collected)}

    def traced_extra(self, tr) -> tuple:
        release(self.spark)
        with tr.span("search") as rec:
            found = DQ.q_subsequence_topk(self.spark, self.d)
            force(found)
        prefilter = int(executed_plan(found).count("MapInPandas") >= 2)
        return {"search": rec}, {"search.prefilter": prefilter}

    def layers(self, s: dict, st) -> dict:
        T = seconds
        inc = st.incl
        by = {sp["name"]: sp for sp in st.spans_of(s["dtw_distance_matrix"])}
        exec_ = st.own(by["matrix.force"], task_times=True)
        ms = exec_.get("task_ms") or [0.0]
        med = statistics.median(ms)
        return {
            "scan.s": T(s["scan"]),
            "rollup.1h_s": T(s["1h"]) - T(s["scan"]),
            "rollup.shuffle_write_bytes":
                inc(s["1h"])["shuffle_write_bytes"]
                - inc(s["scan"])["shuffle_write_bytes"],
            "rollup.spill_bytes": inc(s["1h"])["spill_bytes"],
            "dense.s": T(s["dense"]) - T(s["1h"]),
            "dense.jobs": inc(s["dense"])["jobs"] - inc(s["1h"])["jobs"],
            # whole scan → dense prefix: the dense plan prunes the 1h
            # tier's columns, so a difference of prefixes is not its own
            "dense.shuffle_write_bytes":
                inc(s["dense"])["shuffle_write_bytes"],
            "matrix.index_s": T(by["matrix.index"]),
            "matrix.prepare_s": T(by["matrix.prepare"]),
            "matrix.pairs_s": T(by["matrix.force"]),
            "matrix.call_force_s": T(s["dtw_distance_matrix"]),
            "matrix.exec_s": exec_["executor_run_s"],
            "matrix.tasks": exec_["tasks"],
            "matrix.task_skew": max(ms) / med if med else 0.0,
            "matrix.jobs": inc(s["dtw_distance_matrix"])["jobs"],
            "search.s": T(s["search"]) - T(s["dense"]),
            "search.jobs": inc(s["search"])["jobs"],
        }


@contextlib.contextmanager
def arrow_bytes(spark, sink: list):
    """Record the Arrow bytes of every ``toArrow`` collect made inside the
    block (the corpus collect of the broadcast matrix path)."""
    cls = type(spark.range(0))
    orig = cls.toArrow

    def counted(self, *a, **kw):
        tb = orig(self, *a, **kw)
        sink.append(tb.nbytes)
        return tb

    cls.toArrow = counted
    try:
        yield
    finally:
        cls.toArrow = orig


WORKLOADS = {w.name: w for w in (Tiers, DtwMatrix)}

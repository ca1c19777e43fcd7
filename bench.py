"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Isolation (the round-2 lesson): running all queries in one session made
later queries measure the residue of earlier ones (persisted DFs,
broadcast handles, JVM/python-worker state) — the DTW matrix benched
~3× slower in-suite than standalone, and clearCache()+System.gc()
between queries did NOT close the gap.  The default mode therefore runs
each query in its own subprocess (fresh JVM, fresh python workers).
Within a child the query's first run warms JIT / codegen / page cache
and is reported under ``extra.queries_cold_first_run``; then
$SPARK_GRAFT_BENCH_REPS (default 3) timed repetitions run, min
reported — before each rep every engine-held resource is released
(persisted DFs, broadcasts, caches), so each rep recomputes the
complete DAG from a freshly-built plan.  "value" is the
sum of the steady-state times — reproducible, equal to standalone
numbers by construction, and free of both cross-query residue and
one-off JVM warm-up noise.

In-process mode (``--inproc`` or explicit query names) keeps the old
single-session behavior for quick iteration, with
``resources.release_all()`` + clearCache + GC between queries.

Every query is forced end-to-end with a noop-format write (all columns
materialize, nothing collects to the driver).  "extra" carries the
north-rule throughputs (rolled-up points/sec, DTW pairs/sec) and, since
r5, per-query CPU-attribution meters ("queries_load": own / neighbor /
steal / iowait average cores over every timed window, via
dtaidistance_spark.meter) — this box is a shared VM and the meters make
a noise-inflated run distinguishable from a real regression directly
from the artifact.  For an N-vs-4N scaling-efficiency comparison, run
this harness at SPARK_GRAFT_CPUS=N and =4N on a host with 4N cores
(BASELINE.md, targets).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "rollup_1m",
    "rollup_1h_cascade",
    "rollup_1d_cascade",
    "gap_fill_1h",
    "compress_roundtrip_1h",
    "latency_points",
    "top_users_1d",
    "dedup_exact",
    "token_stats",
    "minhash_lsh",
    "ann_brute_topk",
    "subsequence_topk",
    "dtw_distance_matrix",
]


def _force(df) -> None:
    """Materialize every column of the plan (noop sink, nothing collects)."""
    df.write.format("noop").mode("overwrite").save()


def _run_one(spark, qs, name: str, warmup: bool = False):
    """Time one query end-to-end; return (sec, cold_sec, extra-rows,
    load).

    With ``warmup``, the query executes once untimed (JVM JIT / codegen /
    page cache), then $SPARK_GRAFT_BENCH_REPS (default 3) timed reps,
    best-of reported.  Before every timed
    rep ALL engine-held state is released (persisted DFs, broadcasts,
    caches — resources.release_all) and the plan is rebuilt, so each rep
    recomputes the full DAG, never a cached intermediate.  The reported
    number is steady-state throughput; the cold first-execution time is
    returned alongside for transparency.

    Every timed window is stamped by dtaidistance_spark.meter.CpuMeter
    with its own/neighbor/steal/iowait core decomposition (VERDICT r4:
    the shared VM's neighbor storms and hypervisor steal inflated
    driver records with no way to tell from the artifact).  ``load`` is
    the decomposition of the window the reported number came from
    (best rep), plus each rep's meter under ``reps`` — a noisy run is
    self-diagnosing: a clean number shows own≈cpus, neighbor≈0,
    steal≲0.1·cpus."""
    from dtaidistance_spark.meter import CpuMeter

    meter = CpuMeter()
    cold = None
    if warmup:
        from dtaidistance_spark import resources
        df = qs[name](spark, SF_DIR)
        meter.begin()
        t0 = time.time()
        _force(df)
        cold = round(time.time() - t0, 3)
        cold_load = meter.end()
        # timed repetitions, best-of (timeit-style): this box is a
        # shared VM whose neighbor load swings identical runs 2-4×
        # within a minute — the min is the run that measured the plan,
        # not the neighbors.  State is fully released before each rep
        # so every rep recomputes the complete DAG.  min over more reps
        # only sharpens the estimate; 3 reps bound the odds that every
        # window of a query was stormed (r4's driver record had three
        # queries >2× published on what the meters later showed was
        # exactly that).
        n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
        reps = []
        rep_loads = []
        for _ in range(max(1, n_reps)):
            resources.release_all()
            spark.catalog.clearCache()
            df = qs[name](spark, SF_DIR)
            meter.begin()
            t0 = time.time()
            _force(df)
            reps.append(time.time() - t0)
            rep_loads.append(meter.end())
        best = min(range(len(reps)), key=lambda i: reps[i])
        sec = round(reps[best], 3)
        load = dict(rep_loads[best])
        load["reps"] = [dict(r, sec=round(s, 3))
                        for r, s in zip(rep_loads, reps)]
        load["cold"] = cold_load
        rows = {}
    else:
        df = qs[name](spark, SF_DIR)
        meter.begin()
        t0 = time.time()
        _force(df)
        sec = round(time.time() - t0, 3)
        load = meter.end()
        rows = {}
    meter.close()
    if name.startswith("rollup_"):
        rows[name] = df.count()  # cheap re-agg, untimed
    if name == "dtw_distance_matrix":
        # pair count from the series cardinality (n·(n-1)/2), not a re-run
        from dtaidistance_spark.plans import driver_queries as DQ
        n_series = DQ.hourly_series(spark, SF_DIR).count()
        rows[name] = n_series * (n_series - 1) // 2
    return sec, cold, rows, load


def _child(name: str) -> None:
    """Subprocess entry: fresh session, one query, one result line."""
    from dtaidistance_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name=f"bench-{name}", cores=CPUS,
                      shuffle_partitions=max(16, CPUS))
    sec, cold, rows, load = _run_one(spark, entrymod.queries(), name,
                                     warmup=True)
    spark.stop()
    print("BENCH_CHILD " + json.dumps({"name": name, "sec": sec,
                                       "cold_sec": cold, "rows": rows,
                                       "load": load}))


def _emit(timings: dict, rows: dict, cold: dict | None = None,
          failed: list | None = None, loads: dict | None = None) -> None:
    n_points = rows.get("rollup_1m", 0) + rows.get("rollup_1h_cascade", 0) \
        + rows.get("rollup_1d_cascade", 0)
    t_tiers = (timings.get("rollup_1m", 0) + timings.get("rollup_1h_cascade", 0)
               + timings.get("rollup_1d_cascade", 0))
    n_pairs = rows.get("dtw_distance_matrix", 0)
    t_pairs = timings.get("dtw_distance_matrix", 1e-9)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline-suite wall time (rollup tiers + gap-fill + "
                  "compression + dedup + ANN + banded-DTW matrix); "
                  "per-query isolated sessions, steady-state run timed "
                  "(cold first-run times in extra)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "extra": {
            "cpus": CPUS,
            "sf_dir": SF_DIR,
            "rows": rows,
            "rolled_up_points_per_sec": round(n_points / t_tiers, 1) if t_tiers else None,
            "dtw_pairs_per_sec": round(n_pairs / t_pairs, 1),
        },
    }
    if cold:
        out["extra"]["queries_cold_first_run"] = cold
    if loads:
        # per-query CPU attribution of the timed window (avg cores):
        # own = our Spark subtree, neighbor = other tenants on this
        # shared VM, steal = hypervisor; "reps" carries both timed reps
        # so the best-of choice is auditable.  A number is trustworthy
        # iff own≈cpus and neighbor+storm-steal≈0 — this makes a noisy
        # driver run self-diagnosing (VERDICT r4 item 2).
        out["extra"]["queries_load"] = loads
    if failed:
        # crashed bench children: the headline total understates, make the
        # record of truth say so explicitly (ADVICE r3)
        out["extra"]["failed_queries"] = failed
    print(json.dumps(out))
    if failed:
        sys.exit(3)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    if "--child" in flags:
        _child(args[0])
        return

    selected = args or BENCH_QUERIES
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    cold: dict[str, float] = {}
    loads: dict[str, dict] = {}
    failed: list[str] = []
    inproc = "--inproc" in flags or (bool(args) and "--isolate" not in flags)
    if inproc:
        from dtaidistance_spark.session import get_spark
        from dtaidistance_spark import resources
        import __spark_entry__ as entrymod

        spark = get_spark(app_name="bench", cores=CPUS,
                          shuffle_partitions=max(16, CPUS))
        qs = entrymod.queries()
        for name in selected:
            sec, _, r, load = _run_one(spark, qs, name)
            timings[name] = sec
            rows.update(r)
            loads[name] = load
            resources.release_all()
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        spark.stop()
    else:
        for name in selected:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", name],
                capture_output=True, text=True, cwd=REPO)
            result = None
            for line in proc.stdout.splitlines():
                if line.startswith("BENCH_CHILD "):
                    result = json.loads(line[len("BENCH_CHILD "):])
            if result is None:
                sys.stderr.write(f"bench child {name} failed (rc={proc.returncode})"
                                 f"; stderr tail:\n{proc.stderr[-2000:]}\n")
                failed.append(name)
                continue
            timings[name] = result["sec"]
            if result.get("cold_sec") is not None:
                cold[name] = result["cold_sec"]
            if result.get("load"):
                loads[name] = result["load"]
            rows.update({k: int(v) for k, v in result["rows"].items()})
    _emit(timings, rows, cold, failed, loads)


if __name__ == "__main__":
    main()

"""One workload in a fresh process: session, warm-up, timed passes.

Started by ``run.py``; receives only the generated input directory, never
the seed.  Writes one JSON result file and exits.  One closed-loop client
(this process's main thread) runs the workload's ops back to back in a
fixed order; one such sequence is a pass.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

# The timed loop keeps going until --seconds have passed and at least this
# many untraced passes are in.  Every workload's pass outlasts the 1 s
# window of BENCHMARK.json, so a run times one pass; were the window near
# a pass's length, runs would flip between one and two passes, and a
# second pass runs warmer than the first.
MIN_PASSES = 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    a = ap.parse_args()

    from dtaidistance_spark.kernels import _dtwc
    from dtaidistance_spark.meter import CpuMeter
    from dtaidistance_spark.session import get_spark

    import tracing
    import workloads as WL

    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    attempted = 0
    executions = {}
    failures: dict = {}             # op -> executions that raised
    errors: list = []

    def fail(op: str) -> None:
        failures[op] = failures.get(op, 0) + 1
        if len(errors) < 5:
            errors.append(f"{op}: {traceback.format_exc(limit=4)}")

    # set-up: session start, C kernel load, one untimed warm-up pass whose
    # outputs are kept for the checks
    t_imported = time.time()
    spark = get_spark(
        app_name=f"perfbench-{a.workload}", cores=nproc,
        shuffle_partitions=max(16, nproc),
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir":
                        os.path.join(a.work, "warehouse")})
    t_session = time.time()
    c_path = int(_dtwc.lib() is not None)
    t_kernel = time.time()
    W = WL.WORKLOADS[a.workload](spark, a.input, a.work, nproc)
    WL.release(spark)
    outputs, warmup = {}, {}
    for op, _ in W.ops:
        attempted += 1
        executions[op] = executions.get(op, 0) + 1
        t = time.perf_counter()
        try:
            outputs[op] = W.build(op).toArrow()
        except Exception:
            fail(op)
        warmup[op] = time.perf_counter() - t
    t_setup = time.time()
    sc = spark.sparkContext

    if a.trace:
        # one untimed traced pass first: the traced prefixes run plan
        # shapes the warm-up pass never ran, and their first run compiles
        warm = tracing.Tracer(sc, f"{a.workload}-warm")
        try:
            W.traced_pass(warm)
            W.traced_extra(warm)
        except Exception:
            fail("traced_pass")

    meter = CpuMeter()
    rss = tracing.RssPeak(os.getpid())
    rss.start()
    passes, traced, spans = [], [], []
    # a traced run alternates untraced and traced passes, one of each at
    # least; the untraced ones give the tracing overhead
    min_untraced = 1 if a.trace else MIN_PASSES
    t_begin = time.time()
    while True:
        if time.time() - t_begin >= a.seconds \
                and len(passes) >= min_untraced and len(traced) >= a.trace:
            break
        if a.trace and len(traced) < len(passes):
            rel = WL.release(spark)
            tr = tracing.Tracer(sc, f"{a.workload}-t{len(traced)}")
            meter.begin()
            t0 = time.perf_counter()
            try:
                prefixes, extra = W.traced_pass(tr)
                wall = time.perf_counter() - t0
                load = meter.end()
                more, more_extra = W.traced_extra(tr)
            except Exception:
                fail("traced_pass")
                break
            prefixes.update(more)
            extra.update(more_extra)
            st = tracing.SpanStats(tracing.StageReader(sc), tr.spans)
            layers = W.layers(prefixes, st)
            layers.update(extra)
            traced.append({"s": wall, "release_s": rel, "load": load,
                           "layers": layers,
                           "full": {op: tracing.seconds(prefixes[op])
                                    for op, _ in W.ops}})
            spans.extend(tr.spans)
            continue
        rel = WL.release(spark)
        per_op, call, dfs = {}, {}, {}
        gc0 = tracing.jvm_gc_s(sc)
        meter.begin()
        rss.arm()
        t0 = time.perf_counter()
        for op, _ in W.ops:
            attempted += 1
            executions[op] += 1
            t = time.perf_counter()
            try:
                df = W.build(op)
                t_call = time.perf_counter()
                WL.force(df)
            except Exception:
                fail(op)
                continue
            per_op[op] = time.perf_counter() - t
            call[op] = t_call - t
            dfs[op] = df
        wall = time.perf_counter() - t0
        rss.disarm()
        load = meter.end()
        gc = tracing.jvm_gc_s(sc) - gc0
        paths = {op: W.paths(op, df) for op, df in dfs.items()}
        passes.append({"s": wall, "release_s": rel, "load": load,
                       "ops": per_op, "call": call, "jvm_gc_s": gc,
                       "paths": paths})
    peak_rss = rss.close()
    meter.close()

    t_passes = time.time()
    extras, checks = {}, {}
    try:
        extras = W.run_extras(outputs, bool(a.trace))
        checks = W.check(outputs) if len(outputs) == len(W.ops) else {}
    except Exception:
        fail("checks")
    for op, _ in W.ops:
        if op not in checks:
            checks[op] = (False, "no output to check")
    t_checked = time.time()
    spark.stop()

    result = {
        "workload": a.workload, "trace": a.trace,
        "host": {"nproc": nproc,
                 "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                 "SPARK_GRAFT_DRIVER_MEM":
                     os.environ["SPARK_GRAFT_DRIVER_MEM"]},
        "setup": {"spawned": a.spawned, "imported": t_imported,
                  "session": t_session, "kernel": t_kernel,
                  "warmup_done": t_setup, "passes_done": t_passes,
                  "checks_done": t_checked, "stopped": time.time(),
                  "setup_s": t_setup - a.spawned,
                  "session.start_s": t_session - t_imported,
                  "dtwc.load_s": t_kernel - t_session,
                  "dtwc.c_path": c_path, "warmup_ops": warmup},
        "attempted": attempted, "executions": executions,
        "failures": failures, "errors": errors,
        "checks": {op: {"ok": ok, "detail": det}
                   for op, (ok, det) in checks.items()},
        "extras": extras, "peak_rss_bytes": peak_rss,
        "passes": passes, "traced": traced, "spans": spans,
        "op_kinds": dict(W.ops),
    }
    with open(a.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    sys.exit(main())

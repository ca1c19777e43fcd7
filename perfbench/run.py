"""Repo benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload {tiers,dtw_matrix} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The seed only drives the input
generator (``gen.py``); the program receives the generated
``events.parquet`` directory and nothing else.  The workload runs in a
fresh child process (``child.py``) with a ``local[nproc]`` session and
one closed-loop client; its outputs are checked after the timed passes.

``--trace 0`` measures untraced passes and prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and prints
the per-layer metrics.  Metric names and units come from
``BENCHMARK.json``.  Earlier lines of standard output list every metric
by name and unit, the workload's own figures, the output checks, the
physical path of each op and the host record; the last line is one JSON
object.  A full artifact (passes, spans, checks, paths) is written under
``perfbench/.cache/artifacts``.  The command exits nonzero when an
output check fails or the workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
# a run must end within 180 s; leave room to report and clean up
CHILD_TIMEOUT_S = 165.0

sys.path.insert(0, HERE)
import gen  # noqa: E402


def host_record() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    nproc = len(os.sched_getaffinity(0))
    # an eighth of the host's memory, within [1g, 24g]: the session's 24g
    # default is larger than many hosts, and the inputs are small
    heap_mb = max(1024, min(24 * 1024, mem_kb // 1024 // 8))
    return {"nproc": nproc, "mem_total_kb": mem_kb,
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m"}


def tail(values: list) -> tuple:
    """(value, percentile, samples): the highest percentile with at least
    ten samples above it.  Below eleven samples no percentile has that,
    and the maximum (percentile 100) is reported."""
    xs = sorted(values)
    n = len(xs)
    if n >= 11:
        k = n - 10
        return xs[k - 1], 100.0 * k / n, n
    return xs[-1], 100.0, n


def _pgid_alive(pgid: int) -> bool:
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            try:
                if os.getpgid(int(ent)) == pgid:
                    return True
            except OSError:
                continue
    return False


def stop_group(pgid: int) -> None:
    """Terminate every process left in the child's process group and
    wait until none remains."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not _pgid_alive(pgid):
                return
            time.sleep(0.1)


def run_child(args, input_dir: str, host: dict, t_start: float) -> dict:
    work = os.path.join(CACHE, "work", args.workload)
    tmp = os.path.join(CACHE, "tmp")
    for d in (work, tmp, os.path.join(CACHE, "spark-local")):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "child.log")
    if os.path.exists(out):
        os.unlink(out)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": host["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": host["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--input", input_dir,
           "--work", work, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out,
           "--spawned", repr(time.time())]
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10.0, CHILD_TIMEOUT_S
                                  - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: {args.workload} child failed "
                         f"(rc={proc.returncode}); log: {log}")
    with open(out) as f:
        return json.load(f)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def metrics(res: dict, meta: dict) -> tuple:
    """(end-to-end metrics, per-layer metrics, attempted, failed, notes)."""
    passes = res["passes"]
    kinds = res["op_kinds"]
    wall = [p["s"] for p in passes]
    pass_s = _median(wall)
    tail_s, tail_pct, tail_n = tail(wall)

    # an op whose output check failed counts as failed on every execution
    bad = [op for op, c in res["checks"].items() if not c["ok"]]
    attempted = res["attempted"]
    failed = min(attempted, sum(res["failures"].values())
                 + sum(res["executions"].get(op, 1) for op in bad))

    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "pass_s": pass_s,
        "pass_tail_s": tail_s,
        "ops_ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": res["peak_rss_bytes"] / 2 ** 20,
        "events_per_s": meta["events"] / pass_s,
        "series_per_s": meta["series"] / pass_s,
    }

    def kind_s(kind):
        return _median([sum(t for op, t in p["ops"].items()
                            if kinds[op] == kind) for p in passes])

    ex = res["extras"]
    last_paths = passes[-1]["paths"] if passes else {}
    first = next(iter(last_paths.values()), {})
    pairs = ex.get("pairs", 0)
    layer = {
        "read_s": kind_s("read"),
        "write_s": kind_s("write"),
        "bytes_per_point": ex.get("bytes_per_point", 0.0),
        "pairs_per_s": pairs / pass_s if pairs else 0.0,
        "session.start_s": res["setup"]["session.start_s"],
        "dtwc.load_s": res["setup"]["dtwc.load_s"],
        "dtwc.c_path": res["setup"]["dtwc.c_path"],
        "scan.spread": first.get("scan_spread", 0),
        "rollup.hash_agg": max((p.get("hash_agg", 0)
                                for p in last_paths.values()), default=0),
        "matrix.broadcast_path": first.get("matrix_broadcast", 0),
        "resources.release_s": _median(
            [p["release_s"] for p in passes + res["traced"]]),
        "cpu.own_cores": _median([p["load"]["own"] for p in passes]),
        "cpu.neighbor_cores": _median([p["load"]["neighbor"]
                                       for p in passes]),
        "cpu.steal_cores": _median([p["load"]["steal"] for p in passes]),
    }
    for k in ("kernel.us_per_pair", "kernel.cells_per_pair",
              "compress.payload_bytes", "dense.grid_rows"):
        layer[k] = ex.get(k, 0)
    traced = res["traced"]
    if traced:
        keys = sorted({k for t in traced for k in t["layers"]})
        for k in keys:
            layer[k] = _median([t["layers"].get(k, 0) for t in traced])
        layer["trace.overhead_s"] = _median([t["s"] for t in traced]) - pass_s
        untraced = sum(_median([p["ops"][op] for p in passes if op in p["ops"]])
                       for op in kinds)
        traced_full = sum(_median([t["full"][op] for t in traced])
                          for op in kinds)
        layer["trace.reconcile_gap"] = (traced_full - untraced) / untraced
    if pairs and "matrix.exec_s" in layer:
        layer["matrix.exec_us_per_pair"] = layer["matrix.exec_s"] * 1e6 / pairs
        layer["kernel.overhead_us_per_pair"] = (
            layer["matrix.exec_us_per_pair"] - layer["kernel.us_per_pair"])
    notes = {"pass_tail_s": f"percentile {tail_pct:.1f} of {tail_n} passes"}
    return e2e, layer, attempted, failed, notes


def path_flags(workload: str, passes: list) -> list:
    """Physical paths that differ between this run's passes, or from the
    previous run of the same workload in this checkout."""
    flags = []
    seen = [p["paths"] for p in passes]
    for k, pp in enumerate(seen[1:], 1):
        if pp != seen[0]:
            flags.append(f"pass {k} path {pp} != pass 0 path {seen[0]}")
    rec = os.path.join(CACHE, "artifacts", f"paths-{workload}.json")
    if seen:
        if os.path.exists(rec):
            with open(rec) as f:
                prev = json.load(f)
            if prev != seen[0]:
                flags.append(f"path {seen[0]} != previous run {prev}")
        with open(rec, "w") as f:
            json.dump(seen[0], f)
    return flags


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SPECS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "dtaidistance_spark")):
        print(f"perfbench: no dtaidistance_spark package under {ROOT}; run "
              f"from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]

    host = host_record()
    meta = gen.ensure_input(args.workload, args.seed,
                            os.path.join(CACHE, "inputs"))
    res = run_child(args, meta["dir"], host, t_start)
    e2e, layer, attempted, failed, notes = metrics(res, meta)
    if args.trace:
        # a layer this workload's ops never reach reads 0
        values = {m["name"]: 0 for m in spec["per_layer"]}
        values.update(layer)
    else:
        values = e2e
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 2
    correct = all(c["ok"] for c in res["checks"].values()) and not failed

    os.makedirs(os.path.join(CACHE, "artifacts"), exist_ok=True)
    flags = path_flags(args.workload, res["passes"])
    art = os.path.join(CACHE, "artifacts", f"{args.workload}-s{args.seed}-"
                       f"trace{args.trace}-{int(t_start * 1000)}.json")
    with open(art, "w") as f:
        json.dump({"seed": args.seed, "input": meta, "host": host,
                   "end_to_end": e2e, "per_layer": layer, "notes": notes,
                   "path_flags": flags, "correct": correct, **res}, f)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"input sha256={meta['sha256'][:16]} events={meta['events']} "
          f"series={meta['series']} bytes={meta['bytes']}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    # an untraced run lists its workload's own figures after the
    # end-to-end metrics; a traced run lists every per-layer metric
    shown = values if args.trace else {
        k: v for k, v in layer.items()
        if k in ("read_s", "write_s", "bytes_per_point", "pairs_per_s") and v}
    for name, v in list(e2e.items()) + list(shown.items()):
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"  {name:32s} {v:16.6g} {units.get(name, '')}{note}")
    for op, c in res["checks"].items():
        print(f"  check {op}: {'ok' if c['ok'] else 'FAILED'}: {c['detail']}")
    for op, p in (res["passes"][-1]["paths"] if res["passes"] else {}).items():
        print(f"  path {op}: {json.dumps(p, sort_keys=True)}")
    for fl in flags:
        print(f"  PATH FLAG: {fl}")
    print(f"  host: {json.dumps(host, sort_keys=True)}")
    print(f"  artifact: {os.path.relpath(art, ROOT)}")
    for err in res["errors"]:
        print(err, file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in listed}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

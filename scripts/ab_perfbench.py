"""A/B the repo benchmark between two checkouts, in alternating pairs.

    python3 scripts/ab_perfbench.py PARENT_DIR CHANGE_DIR \\
        --workload tiers --pairs 10 --seeds 1-10 [--metric pass_s] [--layers]

Each pair runs ``perfbench/run.py --trace 0`` once in each checkout, from
that checkout's root and with the same seed and ``--seconds`` (the
``run_seconds`` of the change's ``BENCHMARK.json``); even pairs start
with the parent, odd pairs with the change, so a slow drift of the host
falls on both sides.  Before pair 1, each side makes one untimed
warm-up run with the first seed, so one-time caches never land inside
a timed pair: the generated input, the C kernel build, and the driver
JVM's class-data archive, which the first session of a checkout trains
(``perfbench/run.py`` points the session's tmp, and with it the archive,
into the checkout).  Pair k uses the k-th seed of ``--seeds`` (a list
such as ``1,4,7`` or a range such as ``1-10``, cycled when shorter than
the pair count).

The script prints every pair, then each side's median and quartiles for
every end-to-end metric of ``BENCHMARK.json``, then whether the claim
rule holds for ``--metric``: the change is better in at least nine
pairs out of ten, and the two medians differ, in the better direction,
by more than the parent's interquartile range.  Last comes one
no-regression line per end-to-end metric: the change's median move
against the parent's, the metric's bound from ``BENCHMARK.json`` and a
verdict.  ``WORSE`` means the median moved the wrong way by more than
the bound; ``unresolved`` means the parent's interquartile range is
wider than the bound and not every change run beats every parent run;
otherwise ``ok``.  Moves, bounds and ranges are relative to the parent's
median.  With ``--layers`` it also reads each run's artifact (the file
``run.py`` names on its ``artifact:`` line) and prints, per op, each
side's median ``call`` time (building the op's plan, with the eager work
inside the query call, such as a corpus collect and broadcast) and
``force`` time (running that plan), from the same untraced passes that
give the end-to-end metrics.  It exits 1 when a run
fails or reports an incorrect output, and writes nothing under either
checkout's ``perfbench/`` other than what ``run.py`` itself writes.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def op_layers(root: str, stdout: str) -> dict:
    """``{op.call_s, op.force_s: seconds}``, the median over the run's
    untraced passes, from the artifact named on run.py's ``artifact:``
    line (a path relative to the checkout root)."""
    path = next(line.split(":", 1)[1].strip()
                for line in stdout.splitlines()
                if line.strip().startswith("artifact:"))
    with open(os.path.join(root, path)) as f:
        art = json.load(f)
    out = {}
    for op in art["op_kinds"]:
        done = [p for p in art["passes"] if op in p["ops"]]
        out[f"{op}.call_s"] = statistics.median(
            p["call"][op] for p in done)
        out[f"{op}.force_s"] = statistics.median(
            p["ops"][op] - p["call"][op] for p in done)
    return out


def run_once(root: str, workload: str, seed: int, seconds: float,
             layers: bool = False) -> dict:
    """One untraced benchmark run; its end-to-end metric values, and
    with ``layers`` its per-op call and force times."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        raise SystemExit(f"ab_perfbench: run failed in {root} "
                         f"(seed {seed}, rc={proc.returncode})")
    if not out["correct"]:
        sys.stderr.write("\n".join(lines[:-1]) + "\n")
        raise SystemExit(f"ab_perfbench: incorrect output in {root} "
                         f"(seed {seed})")
    vals = {k: v["value"] for k, v in out["metrics"].items()}
    if layers:
        vals.update(op_layers(root, proc.stdout))
    print(f"    {os.path.basename(os.path.abspath(root)):>12s} seed {seed}: "
          f"{time.time() - t0:5.1f} s", file=sys.stderr, flush=True)
    return vals


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list, change: list, better: str, bound: float) -> tuple:
    """(relative median move, relative parent IQR, ok/WORSE/unresolved)
    for one end-to-end metric's runs on each side."""
    q1, med_p, q3 = quartiles(parent)
    med_c = statistics.median(change)
    move = (med_c - med_p) / abs(med_p)
    spread = (q3 - q1) / abs(med_p)
    sign = 1 if better == "lower" else -1
    if all(sign * (p - c) > 0 for p in parent for c in change):
        return move, spread, "ok"
    if sign * move > bound:
        return move, spread, "WORSE"
    return move, spread, "unresolved" if spread > bound else "ok"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="root of the parent checkout")
    ap.add_argument("change", help="root of the change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--metric", default="pass_s",
                    help="the end-to-end metric the claim rule checks")
    ap.add_argument("--layers", action="store_true",
                    help="also print each op's median call and force "
                         "time per side, read from the run artifacts")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    if args.metric not in better:
        raise SystemExit(f"ab_perfbench: {args.metric} is not an "
                         f"end-to-end metric of BENCHMARK.json")
    seeds = parse_seeds(args.seeds)
    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    print("warm-up: one untimed run per side", file=sys.stderr, flush=True)
    for side in ("parent", "change"):
        run_once(sides[side], args.workload, seeds[0], spec["run_seconds"])
    for k in range(args.pairs):
        seed = seeds[k % len(seeds)]
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        got = {side: run_once(sides[side], args.workload, seed,
                              spec["run_seconds"], args.layers)
               for side in order}
        for side in order:
            runs[side].append(got[side])
        p, c = got["parent"][args.metric], got["change"][args.metric]
        print(f"pair {k + 1:2d} seed {seed:3d} first={order[0]:6s} "
              f"{args.metric}: parent {p:.4g}  change {c:.4g}  "
              f"({100 * (c - p) / p:+.1f}%)", flush=True)

    print(f"\n{'metric':14s} {'side':7s} {'median':>10s} {'q1':>10s} "
          f"{'q3':>10s}")
    for name in better:
        for side in ("parent", "change"):
            q1, med, q3 = quartiles([r[name] for r in runs[side]])
            print(f"{name:14s} {side:7s} {med:10.4g} {q1:10.4g} {q3:10.4g}")

    if args.layers:
        print(f"\n{'layer (s)':32s} {'side':7s} {'median':>10s} "
              f"{'q1':>10s} {'q3':>10s}")
        for name in sorted(k for k in runs["change"][0] if k not in better):
            for side in ("parent", "change"):
                q1, med, q3 = quartiles([r[name] for r in runs[side]])
                print(f"{name:32s} {side:7s} {med:10.4g} {q1:10.4g} "
                      f"{q3:10.4g}")

    sign = 1 if better[args.metric] == "lower" else -1
    wins = sum(sign * (p[args.metric] - c[args.metric]) > 0
               for p, c in zip(runs["parent"], runs["change"]))
    q1, med_p, q3 = quartiles([r[args.metric] for r in runs["parent"]])
    med_c = statistics.median(r[args.metric] for r in runs["change"])
    gain = sign * (med_p - med_c)
    need = math.ceil(0.9 * args.pairs)
    holds = wins >= need and gain > q3 - q1
    print(f"\nclaim on {args.metric} ({better[args.metric]} is better): "
          f"change better in {wins}/{args.pairs} pairs (need {need}); "
          f"median {med_p:.4g} -> {med_c:.4g} "
          f"({100 * (med_c - med_p) / med_p:+.1f}%), gain {gain:.4g} "
          f"vs parent IQR {q3 - q1:.4g}: "
          f"{'HOLDS' if holds else 'does not hold'}")

    print(f"\n{'metric':14s} {'move':>8s} {'bound':>7s} {'IQR':>7s}  verdict")
    for m in spec["end_to_end"]:
        name = m["name"]
        move, spread, word = verdict([r[name] for r in runs["parent"]],
                                     [r[name] for r in runs["change"]],
                                     m["better"], m["bound"])
        print(f"{name:14s} {move:+8.1%} {m['bound']:7.0%} {spread:7.1%}  "
              f"{word}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Probe the blocked DTW matrix against its block count K: wall time,
range tasks and rows on one corpus, and the peak memory of the Python
workers on another.

    python3 scripts/matrix_blocks.py speed [--ks 1,4,8,16] [--reps 3]
    python3 scripts/matrix_blocks.py rss [--configs 16x24,8x48] [--jobs 4]

``speed``: 480 seeded random walks of 504 points at window 24 (the shape
of the ``dtw_matrix`` benchmark corpus) on ``local[4]``.  For each K the
block cap ``operators.matrix._BLOCK_BYTES`` is set so that the corpus
cuts into K blocks; after one warm-up call per K, each rep times
``distance_matrix(...)`` plus ``toPandas()``.

``rss``: one fresh process per ``KxMB`` config.  The corpus holds enough
series of 2,000 points for K blocks of MB megabytes each, computed in
the JVM so that no Python worker runs before the matrix.  Each job
computes the thin rectangle ``block=((0, 24), (0, n), False)`` at
window 2, so every range reads the first block and one other; ``--jobs``
jobs run in one session.

Both print one line per K and rep (or job): wall seconds, the tasks of
the job that computes the pairs, the rows, whether they ``==`` the first
K's rows (``speed`` only), a digest of the sorted rows, and the peak
resident set (``VmHWM`` in ``/proc/<pid>/status``) of the session's
Python workers so far, in MB.  Spark's own "Broadcasting large task
binary" warning, if a plan gets one, goes to stderr.  The script writes
nothing but Spark's own temporary files.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SPEED_N, SPEED_L, SPEED_WINDOW = 480, 504, 24
RSS_ROWS, RSS_L, RSS_WINDOW = 24, 2000, 2


def worker_peak_mb(spark) -> float:
    """Largest VmHWM among the Python processes the session's JVM
    started (the worker daemon and the workers it forked)."""
    jvm = spark.sparkContext._gateway.proc.pid
    parent = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            try:
                with open(f"/proc/{ent}/stat") as f:
                    stat = f.read().rsplit(")", 1)[1].split()
                parent[int(ent)] = int(stat[1])
            except (OSError, IndexError, ValueError):
                pass
    peak = 0
    for pid in parent:
        p = parent[pid]
        while p and p != jvm:
            p = parent.get(p, 0)
        if not p:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024


def timed_job(spark, build):
    """(seconds, tasks of the pairs job, sorted pandas rows): ``build()``
    makes the matrix DataFrame, ``toPandas()`` computes it inside a job
    group whose stages' tasks are counted."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    dist = build()
    group = f"matrix-blocks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = dist.toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    wall = time.perf_counter() - t0
    st = sc.statusTracker()
    tasks = sum(st.getStageInfo(s).numTasks
                for j in st.getJobIdsForGroup(group)
                for s in st.getJobInfo(j).stageIds)
    return wall, tasks, rows.sort_values(["i", "j"]).reset_index(drop=True)


def digest(rows) -> str:
    return hashlib.sha1(rows.to_numpy().tobytes()).hexdigest()[:12]


def speed(ks: list, reps: int) -> None:
    import numpy as np

    from dtaidistance_spark.operators import matrix as M
    from dtaidistance_spark.resources import release_all
    from dtaidistance_spark.session import get_spark

    spark = get_spark(app_name="matrix-blocks-speed", cores=4)
    rng = np.random.default_rng(0)
    walks = np.cumsum(rng.normal(size=(SPEED_N, SPEED_L)), axis=1)
    df = spark.createDataFrame(
        [(i, w.tolist()) for i, w in enumerate(walks)],
        "i long, values array<double>").cache()
    df.count()
    series_bytes = SPEED_L * 8
    first = None
    for k in ks:
        M._BLOCK_BYTES = series_bytes * -(-SPEED_N // k)

        def build():
            return M.distance_matrix(df, window=SPEED_WINDOW)

        timed_job(spark, build)  # warm-up
        release_all(spark)
        for rep in range(reps):
            wall, tasks, rows = timed_job(spark, build)
            release_all(spark)
            if first is None:
                first = rows
            print(f"speed K={k} rep={rep} wall_s={wall:.2f} tasks={tasks} "
                  f"rows={len(rows)} eq_first={rows.equals(first)} "
                  f"digest={digest(rows)} "
                  f"worker_peak_mb={worker_peak_mb(spark):.0f}", flush=True)
    spark.stop()


def rss_child(k: int, mb: int, jobs: int) -> None:
    from pyspark.sql import functions as F

    from dtaidistance_spark.operators import matrix as M
    from dtaidistance_spark.resources import release_all
    from dtaidistance_spark.session import get_spark

    spark = get_spark(app_name="matrix-blocks-rss", cores=4)
    series_bytes = RSS_L * 8
    per_block = mb * 1024 * 1024 // series_bytes
    n = k * per_block
    M._BLOCK_BYTES = per_block * series_bytes
    df = spark.range(n, numPartitions=8).select(
        F.col("id").alias("i"),
        F.expr(f"transform(sequence(0, {RSS_L - 1}), x -> "
               "sin(id * 0.61 + x * 0.013) * 3 + cos(x * id * 1e-4))")
        .alias("values"))

    def build():
        return M.distance_matrix(df, window=RSS_WINDOW,
                                 block=((0, RSS_ROWS), (0, n), False))

    for job in range(jobs):
        wall, tasks, rows = timed_job(spark, build)
        release_all(spark)
        print(f"rss K={k} block_mb={mb} series={n} job={job} "
              f"wall_s={wall:.2f} tasks={tasks} rows={len(rows)} "
              f"digest={digest(rows)} "
              f"worker_peak_mb={worker_peak_mb(spark):.0f}", flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("probe", choices=["speed", "rss", "rss-child"])
    ap.add_argument("--ks", default="1,4,8,16")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--configs", default="16x24,8x48",
                    help="KxMB: K blocks of MB megabytes each")
    ap.add_argument("--jobs", type=int, default=4)
    a = ap.parse_args()
    if a.probe == "speed":
        speed([int(k) for k in a.ks.split(",")], a.reps)
    elif a.probe == "rss-child":
        k, mb = map(int, a.configs.split("x"))
        rss_child(k, mb, a.jobs)
    else:
        for cfg in a.configs.split(","):
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            "rss-child", "--configs", cfg,
                            "--jobs", str(a.jobs)], check=True)


if __name__ == "__main__":
    main()

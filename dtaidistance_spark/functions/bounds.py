"""DTW bound functions as pure column algebra (no UDF in the plan).

LB_Keogh (reference dtw.py:266-291) needs a sliding min/max envelope
over the candidate series and a sum of squared out-of-envelope excess —
both expressible with Spark's higher-order array functions
(``transform``/``slice``/``array_min``/``zip_with``/``aggregate``), so
the whole bound runs JVM-side under whole-stage codegen.  The numpy
kernel twin (kernels/dtw.py::lb_keogh_batch) remains the in-UDF fast
path used by the distance-matrix prefilter; this module is the
engine-native surface (and the driver-oracle query path).

ub_euclidean (reference ed.py:47-79, equal lengths) is a one-liner:
sqrt of the summed squared differences.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def envelope_cols(values_col: str, window: int):
    """(lower, upper) envelope arrays of ``values_col``: position i
    covers indices [max(0, i-(window-1)), min(n, i+window)) — exactly
    the kernel's equal-length reach (lb_keogh_batch: imin_diff = w-1,
    imax_diff = w)."""
    w = int(window)
    start = f"greatest(0, i - {w - 1}) + 1"          # slice() is 1-based
    length = f"least(size({values_col}), i + {w}) - greatest(0, i - {w - 1})"
    lo = F.expr(f"transform(sequence(0, size({values_col}) - 1), "
                f"i -> array_min(slice({values_col}, {start}, {length})))")
    hi = F.expr(f"transform(sequence(0, size({values_col}) - 1), "
                f"i -> array_max(slice({values_col}, {start}, {length})))")
    return lo, hi


def _sq_excess(a: str, lo: str, hi: str):
    """Σ excess² where excess = max(a-hi, 0) + max(lo-a, 0)."""
    ex = (f"zip_with({a}, zip_with({lo}, {hi}, (l, h) -> struct(l AS l, h AS h)), "
          f"(x, e) -> greatest(x - e.h, 0D) + greatest(e.l - x, 0D))")
    return F.expr(f"aggregate({ex}, 0D, (acc, v) -> acc + v * v)")


def _self_pairs(base: DataFrame, other: DataFrame) -> DataFrame:
    """All ordered pairs (i < j) of ``base`` × ``other`` (same series
    set, ``other`` carries per-j derived columns).

    Plan gate: when the series set fits the broadcast budget —
    ``spark.dtaidistance.broadcastMatrixMaxBytes`` and
    ``spark.dtaidistance.broadcastMatrixMaxPairs``, both read only here
    (the matrix executor broadcasts its corpus in fixed-size blocks
    instead) — broadcast ``other`` (no shuffle).
    Above it, fall back to the chunk-pair shuffle plan — tag each base
    row with its chunk's partner chunks via a tiny broadcast (ci, cj)
    table, then equi-join on the partner chunk so both sides move
    through a keyed shuffle instead of an executor-OOM broadcast
    (ADVICE r3: the unconditional broadcast was a trap at corpus
    scale)."""
    from ..resources import track_persist

    spark = base.sparkSession
    base = track_persist(base.persist())
    stats = base.agg(F.count("*").alias("n"),
                     F.avg(F.size("v")).alias("alen")).collect()[0]
    n = int(stats["n"] or 0)
    est_bytes = n * float(stats["alen"] or 0) * 8
    conf = spark.conf
    max_bytes = float(conf.get("spark.dtaidistance.broadcastMatrixMaxBytes",
                               str(256 * 1024 * 1024)))
    max_pairs = int(conf.get("spark.dtaidistance.broadcastMatrixMaxPairs",
                             str(20_000_000)))
    if est_bytes <= max_bytes and n * (n - 1) // 2 <= max_pairs:
        return base.join(F.broadcast(other), F.col("i") < F.col("j"))

    par = spark.sparkContext.defaultParallelism
    n_chunks = max(1, int(math.ceil(math.sqrt(16.0 * par))))
    cs = max(8, -(-n // n_chunks))
    cp = spark.createDataFrame(
        [(ci, cj) for ci in range(n_chunks) for cj in range(n_chunks)
         if ci <= cj], "ci int, cj int")
    left = base.withColumn("ci", (F.col("i") / cs).cast("int")) \
               .join(F.broadcast(cp), "ci")
    right = other.withColumn("cj", (F.col("j") / cs).cast("int"))
    return (left.join(right, "cj")
            .where(F.col("i") < F.col("j"))
            .drop("ci", "cj"))


def lb_keogh_pairs(series_df: DataFrame, window: int,
                   index_col: str = "i",
                   values_col: str = "values") -> DataFrame:
    """All ordered pairs (i < j): LB_Keogh(s_i, envelope(s_j)) — the
    admissible DTW lower bound, entirely JVM-side.  The self-join
    broadcasts the envelope side under the matrix broadcast gate and
    takes the chunk-pair shuffle plan above it."""
    base = series_df.select(F.col(index_col).cast("long").alias("i"),
                            F.col(values_col).alias("v"))
    lo, hi = envelope_cols("vj", window)
    env = (base.select(F.col("i").alias("j"), F.col("v").alias("vj"))
           .withColumn("lo", lo).withColumn("hi", hi))
    joined = _self_pairs(base, env)
    return joined.select(
        "i", "j",
        F.sqrt(_sq_excess("v", "lo", "hi")).alias("lb"))


def ub_euclidean_pairs(series_df: DataFrame, index_col: str = "i",
                       values_col: str = "values") -> DataFrame:
    """All ordered pairs (i < j): Euclidean upper bound (equal-length
    case of reference ed.py:47-79): sqrt(Σ (a-b)²)."""
    base = series_df.select(F.col(index_col).cast("long").alias("i"),
                            F.col(values_col).alias("v"))
    other = base.select(F.col("i").alias("j"), F.col("v").alias("vj"))
    joined = _self_pairs(base, other)
    sq = ("aggregate(zip_with(v, vj, (a, b) -> (a - b) * (a - b)), 0D, "
          "(acc, x) -> acc + x)")
    return joined.select("i", "j", F.sqrt(F.expr(sq)).alias("ub"))

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

Both run over one unhinted (i < j) self-join whose physical plan Spark
chooses from its own size estimate (:func:`_self_pairs`).
"""

from __future__ import annotations

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

    One unhinted non-equi join: Spark plans a BroadcastNestedLoopJoin
    when its own size estimate of a side is under
    ``spark.sql.autoBroadcastJoinThreshold`` and a CartesianProduct
    otherwise, which keeps per-task memory bounded at corpus scale.
    Nothing runs until the result does."""
    return base.join(other, F.col("i") < F.col("j"))


def lb_keogh_pairs(series_df: DataFrame, window: int,
                   index_col: str = "i",
                   values_col: str = "values") -> DataFrame:
    """All ordered pairs (i < j): LB_Keogh(s_i, envelope(s_j)) — the
    admissible DTW lower bound, entirely JVM-side, over one self-join
    (see :func:`_self_pairs`)."""
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

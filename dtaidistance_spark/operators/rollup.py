"""Continuous-aggregate rollup cascade with gap-fill and retention.

North-rule layer (BASELINE.json): per-series points are bucketed to 1m,
then the 1h tier is *re-aggregated from the 1m tier* and 1d from 1h —
algebraic partial/final aggregation (cnt/sum/min/max are mergeable;
first/last merge via min_by/max_by on the bucket timestamp), exactly the
shape of a TimescaleDB-style continuous-aggregate chain but expressed as
plain Spark hash aggregations that Catalyst executes with map-side
partial aggregation (one shuffle per tier, keyed by series_id — skew-safe
because bucket cardinality per series is bounded).

All functions take and return DataFrames and collect nothing to the
driver, except :func:`collect_dense_arrays`, which returns numpy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

BUCKET_SPEC = {
    "1m": ("minute", 60),
    "1h": ("hour", 3600),
    "1d": ("day", 86400),
}

AGG_COLUMNS = ["series_id", "bucket_ts", "cnt", "sum", "min", "max", "first", "last"]


def bucket_col(ts_col, bucket: str):
    trunc, _ = BUCKET_SPEC[bucket]
    return F.date_trunc(trunc, ts_col)


def rollup_points(points: DataFrame, bucket: str = "1m",
                  series_col: str = "series_id", ts_col: str = "ts",
                  value_col: str = "value", seq_col: str = "seq") -> DataFrame:
    """Aggregate raw points into one tier: count/sum/min/max/first/last
    per (series, bucket).  ``seq_col`` is the stable per-series ordering
    key (turn_idx) that makes first/last deterministic."""
    return (
        points.groupBy(
            F.col(series_col).alias("series_id"),
            bucket_col(F.col(ts_col), bucket).alias("bucket_ts"),
        )
        .agg(
            F.count(value_col).alias("cnt"),
            F.sum(value_col).alias("sum"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
            F.min_by(value_col, F.col(seq_col)).alias("first"),
            F.max_by(value_col, F.col(seq_col)).alias("last"),
        )
    )


def rollup_cascade(agg: DataFrame, to_bucket: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1m→1h, 1h→1d).

    Purely algebraic merge — never touches the raw points again, which is
    what makes the cascade cheap at 100 TB: each tier shrinks the data
    ~60× before the next shuffle.
    """
    return (
        agg.groupBy(
            "series_id",
            bucket_col(F.col("bucket_ts"), to_bucket).alias("bucket_ts"),
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.min_by("first", F.col("bucket_ts")).alias("first"),
            F.max_by("last", F.col("bucket_ts")).alias("last"),
        )
    )


def dense_grid(bounds: DataFrame, step: int) -> DataFrame:
    """The gap-fill grid builder, shared with every consumer that
    needs a dense per-series bucket grid (e.g. the seasonal
    decomposition driver query): from ``(series_id, b0, b1)`` span
    rows, emit one ``(series_id, bucket_ts)`` row per ``step``-second
    bucket in [b0, b1].

    Scale invariant (keep when editing): the grid is a TWO-LEVEL
    explode — days first, then intra-day offsets — so no single
    ``sequence()`` array exceeds 86400/step ≤ 1440 elements no matter
    how long the series span is; a one-level ``sequence(b0, b1)``
    materializes the whole span per row and dies on year-long spans.
    """
    days = bounds.select(
        "series_id", "b0", "b1",
        F.explode(
            F.sequence(F.date_trunc("day", F.col("b0")),
                       F.date_trunc("day", F.col("b1")),
                       F.expr("interval 1 day"))
        ).alias("day_ts"),
    )
    if step >= 86400:
        return days.select("series_id", F.col("day_ts").alias("bucket_ts"))
    return days.select(
        "series_id", "b0", "b1",
        F.explode(
            F.sequence(F.col("day_ts"),
                       F.col("day_ts") + F.expr("interval 86399 second"),
                       F.expr(f"interval {step} second"))
        ).alias("bucket_ts"),
    ).where(F.col("bucket_ts").between(F.col("b0"), F.col("b1"))) \
     .select("series_id", "bucket_ts")


def gap_fill(agg: DataFrame, bucket: str, policy: str = "zero_count",
             align: str = "series", span_cap: int | None = None) -> DataFrame:
    """Materialize missing buckets between each series' first and last
    bucket.

    Policies for the value columns (cnt is always 0 for filled rows):

    * ``"zero_count"`` — value columns stay NULL (TimescaleDB gapfill default)
    * ``"zero"``       — sum→0.0; min/max/first/last stay NULL
    * ``"locf"``       — last observation carried forward into
                         sum/min/max/first/last
    * ``"interpolate"`` — linear interpolation between the nearest
                         observed buckets on either side (TimescaleDB
                         ``interpolate()``); gaps before the first /
                         after the last observation (possible only
                         under ``align="global"``) stay NULL

    ``align="series"`` spans each series' own [first, last] bucket;
    ``align="global"`` spans the corpus-wide [min, max] for every series,
    so all downstream dense arrays share one time grid (equal lengths →
    the DTW kernel batches across all pairs at once).

    ``span_cap`` (global align only) bounds the grid to the LAST
    ``span_cap`` buckets of the corpus span: with power-law series
    lifetimes one long-lived series otherwise forces a full-span dense
    row for *every* series (grid rows = n_series × global span — the
    100× scale-killer); capping keeps the grid at n_series × cap and
    the downstream arrays equal-length.

    Scale note: the grid is generated with a two-level explode (days ×
    intra-day offsets) so no ``sequence()`` array exceeds 1440 elements
    regardless of the series' time span.  Consumers that only need the
    zero-filled global grid as dense arrays use :func:`dense_arrays`,
    which builds no grid.
    """
    trunc, step = BUCKET_SPEC[bucket]
    # GLOBAL align derives corpus bounds AND the series list from ONE
    # tiny persisted per-series bounds table, so the upstream tier
    # subtree executes exactly twice (bounds pass + grid join), both
    # Catalyst-pruned to the columns each side needs.  The r6
    # alternatives measured worse: no cache re-ran the tier three times
    # (bounds, distinct series, join — their pruning diverges so
    # ReuseExchange never fires; subsequence_topk 9.3 s at the 10x
    # corpus), and caching the FULL tier defeats consumer pruning by
    # materializing all eight value columns (2.16 s vs 1.77 s at
    # sf0.1; ties at 10x).  Per-series align is left uncached: it has
    # only the bounds aggregate + join, and its pruned bounds subtree
    # recomputes faster than a full-tier cache costs (A/B: gap_fill_1h
    # 6.3 -> 4.5 s at 10x, 1.7 -> 1.3 s at sf0.1 without the cache).
    from ..resources import track_persist
    if align == "global":
        per_series = agg.groupBy("series_id").agg(
            F.min("bucket_ts").alias("_s0"),
            F.max("bucket_ts").alias("_s1"))
        per_series = track_persist(per_series.persist())
        gb = per_series.agg(F.min("_s0").alias("b0"),
                            F.max("_s1").alias("b1"))
        ser = per_series.select("series_id")
        if span_cap is not None:
            gb = gb.select(
                F.greatest(
                    F.col("b0"),
                    F.col("b1") - F.expr(
                        f"interval {int(span_cap - 1) * step} second"),
                ).alias("b0"),
                "b1")
        bounds = ser.crossJoin(F.broadcast(gb))
    else:
        bounds = agg.groupBy("series_id").agg(
            F.min("bucket_ts").alias("b0"), F.max("bucket_ts").alias("b1"))
    grid = dense_grid(bounds, step)

    filled = (
        grid.join(agg, ["series_id", "bucket_ts"], "left")
        .withColumn("gap", F.col("cnt").isNull())
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    if policy == "zero":
        filled = filled.withColumn("sum", F.coalesce(F.col("sum"), F.lit(0.0)))
    elif policy == "locf":
        w = (W.partitionBy("series_id").orderBy("bucket_ts")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
        for c in ("sum", "min", "max", "first", "last"):
            filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    elif policy == "interpolate":
        # Both neighbour lookups are RUNNING frames (unboundedPreceding
        # → currentRow): the "next observed" side runs over DESCENDING
        # bucket order.  A [currentRow, unboundedFollowing] frame would
        # read identically but Spark executes it O(n²) per partition
        # (the frame's start moves, so the aggregate is recomputed from
        # scratch at every row) — at a 20-day 1m global grid that is
        # ~8e8 ops per series.  Two running frames are O(n); they share
        # one hash exchange on series_id with two in-partition sorts.
        wb = (W.partitionBy("series_id").orderBy("bucket_ts")
              .rowsBetween(W.unboundedPreceding, W.currentRow))
        wf = (W.partitionBy("series_id").orderBy(F.desc("bucket_ts"))
              .rowsBetween(W.unboundedPreceding, W.currentRow))
        t = F.unix_micros(F.col("bucket_ts"))
        obs_t = F.when(~F.col("gap"), t)
        t_prev = F.last(obs_t, ignorenulls=True).over(wb)
        t_next = F.last(obs_t, ignorenulls=True).over(wf)
        frac = ((t - t_prev).cast("double")
                / (t_next - t_prev).cast("double"))
        for c in ("sum", "min", "max", "first", "last"):
            v_prev = F.last(c, ignorenulls=True).over(wb)
            v_next = F.last(c, ignorenulls=True).over(wf)
            filled = filled.withColumn(
                c,
                F.when(~F.col("gap"), F.col(c))
                 .otherwise(v_prev + (v_next - v_prev) * frac))
    elif policy != "zero_count":
        raise ValueError(f"unknown gap-fill policy: {policy}")
    return filled.select(*AGG_COLUMNS, "gap")


def apply_retention(agg: DataFrame, bucket: str, keep_until) -> DataFrame:
    """Retention as partition pruning: keep only buckets >= cutoff.
    With a date-partitioned sink this compiles to partition drops; here it
    is the equivalent declarative filter (pushed down to the scan)."""
    return agg.where(F.col("bucket_ts") >= F.lit(keep_until))


def series_arrays(agg: DataFrame, bucket: str, value_col: str = "sum",
                  fill: float = 0.0) -> DataFrame:
    """Collapse a (gap-filled) tier into dense per-series arrays —
    the reference's position-implicit series model
    (reference util.py:197-208: time axis = array position).

    Returns ``(series_id, t0 timestamp, step_s int, n int,
    values array<double>)``; position i corresponds to t0 + i*step_s.
    """
    _, step = BUCKET_SPEC[bucket]
    v = F.coalesce(F.col(value_col).cast("double"), F.lit(float(fill)))
    pairs = agg.select("series_id", "bucket_ts", v.alias("v"))
    return (
        pairs.groupBy("series_id")
        .agg(
            F.min("bucket_ts").alias("t0"),
            F.count("v").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket_ts", "v"))),
                lambda s: s["v"],
            ).alias("values"),
        )
        .select("series_id", "t0", F.lit(step).alias("step_s"),
                F.col("n").cast("int").alias("n"), "values")
    )


def dense_arrays(agg: DataFrame, bucket: str, value_col: str | list,
                 span_cap: int | None = None) -> DataFrame:
    """Zero-fill, globally aligned dense arrays in ONE per-series
    aggregate: the rows of ``series_arrays(gap_fill(agg, bucket,
    policy="zero", align="global", span_cap=span_cap), bucket,
    value_col)``, without the grid.

    The aggregate builds a ``{unix seconds: value}`` map of each
    series' buckets.  A one-row ``[b0, b1]`` bounds aggregate reads the
    map keys of that same per-series aggregate, so both branches share
    its exchange (``ReusedExchange``) and the tier runs once;
    ``span_cap`` trims ``b0`` as in :func:`gap_fill`.  The row is
    broadcast back, and every array is ``n = (b1 - b0)/step + 1`` map
    lookups at ``b0 + k·step``; a missing bucket reads 0.0.  A series
    with no bucket in ``[b0, b1]`` keeps an all-zero row, as the grid
    join does.  A list of value columns gives n-D elements ``[v1, v2,
    ...]`` (the n-D DTW layout) from the same one aggregate, each column
    zero-filled as the single-column form fills it.

    The map is built in the aggregate's result, once per series: a map
    built inside the ``transform`` lambda would be rebuilt for every
    element, because lambda bodies are interpreted and never share
    subexpressions.  Bucket arithmetic is in seconds, which assumes the
    session time zone has a fixed UTC offset (the engine runs in UTC).
    """
    _, step = BUCKET_SPEC[bucket]
    secs = F.unix_seconds(F.col("bucket_ts"))
    if isinstance(value_col, str):
        val, zero = F.col(value_col).cast("double"), F.lit(0.0)
    else:
        val = F.array(*[F.coalesce(F.col(c).cast("double"), F.lit(0.0))
                        for c in value_col])
        zero = F.array(*[F.lit(0.0)] * len(value_col))
    per_series = agg.groupBy("series_id").agg(
        F.map_from_entries(F.collect_list(F.struct(secs, val))).alias("_m"))
    b0, b1 = F.col("b0"), F.col("b1")
    keys = F.map_keys("_m")
    bounds = per_series.agg(F.min(F.array_min(keys)).alias("b0"),
                            F.max(F.array_max(keys)).alias("b1"))
    if span_cap is not None:
        bounds = bounds.select(
            F.greatest(b0, b1 - int(span_cap - 1) * step).alias("b0"), b1)
    # n is null only on an empty tier, which joins to no rows; the
    # coalesce keeps ``n`` and ``values`` non-nullable, as in the chain
    n = F.coalesce(((b1 - b0) / step + 1).cast("int"), F.lit(0))
    bounds = bounds.select(b0, n.alias("n"))
    lookup = F.transform(
        F.sequence(F.lit(0), F.col("n") - 1),
        lambda k: F.coalesce(F.element_at(F.col("_m"), b0 + k * step),
                             zero))
    return per_series.crossJoin(F.broadcast(bounds)).select(
        "series_id", F.timestamp_seconds(b0).alias("t0"),
        F.lit(step).alias("step_s"), "n", lookup.alias("values"))


def collect_dense_arrays(agg: DataFrame, bucket: str, value_col: str,
                         span_cap: int | None = None,
                         min_len: int | None = None) -> tuple:
    """The collected twin of :func:`dense_arrays`: ``(series ids, V)``
    with row ``k`` of the float64 matrix ``V`` the ``values`` of series
    ``ids[k]`` that ``dense_arrays(agg, bucket, value_col, span_cap)``
    gives, ``==`` element for element.

    The tier is collected sparse, ``(series_id, unix seconds, value)``,
    and densified on the driver: the same global ``[b0, b1]`` with
    ``b0`` trimmed by ``span_cap``, ``n = (b1 - b0)/step + 1``, a null
    value or a missing bucket reads 0.0, a series with no bucket in the
    window keeps an all-zero row.  ``min_len`` keeps every series when
    ``n >= min_len`` and none otherwise, as ``where(n >= min_len)`` does
    on equal-length rows.  ``ids`` are in the stable Arrow sort of
    ``series_id`` (nulls first) that ``matrix._collect_corpus`` ranks
    ``order_col`` by, so row ``k`` is the series that
    ``distance_matrix(..., order_col="series_id")`` numbers ``k``.  An
    empty tier gives no ids and a (0, 0) matrix."""
    import pyarrow.compute as pc

    _, step = BUCKET_SPEC[bucket]
    tb = agg.select("series_id", F.unix_seconds("bucket_ts").alias("t"),
                    F.col(value_col).cast("double").alias("v")).toArrow()
    if tb.num_rows == 0:
        return [], np.zeros((0, 0))
    sid = tb.column("series_id")
    uniq = pc.unique(sid)
    ids = uniq.take(pc.sort_indices(uniq, null_placement="at_start"))
    t = tb.column("t").to_numpy()
    b0, b1 = int(t.min()), int(t.max())
    if span_cap is not None:
        b0 = max(b0, b1 - (span_cap - 1) * step)
    n = int((b1 - b0) / step + 1)
    if min_len is not None and n < min_len:
        return [], np.zeros((0, n))
    off = t - b0
    k = off // step
    keep = (off >= 0) & (off % step == 0)
    V = np.zeros((len(ids), n))
    row = pc.index_in(sid, value_set=ids).to_numpy()
    v = pc.fill_null(tb.column("v"), 0.0).to_numpy()
    V[row[keep], k[keep]] = v[keep]
    return ids.to_pylist(), V


def rollup_distinct(points: DataFrame, bucket: str = "1h",
                    key_col: str = "series_id",
                    group_col: str | None = None,
                    lg_k: int = 12) -> DataFrame:
    """Per-bucket DISTINCT-count tier as a MERGEABLE HyperLogLog
    sketch (Spark's Apache DataSketches `hll_sketch_agg`): exact
    distinct counts cannot cascade (distinct-per-hour does not sum to
    distinct-per-day), but HLL register states union losslessly —
    register-wise max — so `cascade_distinct` re-aggregates tiers
    without ever touching the raw points again, exactly like the
    numeric rollup cascade.  That property is what makes corpus-wide
    cardinality questions (distinct users/day over 100 TB of events)
    one tier-sized shuffle instead of a raw re-scan.

    Output: (group, bucket_ts, sketch binary, distinct_est long).
    ``group_col=None`` gives one corpus-wide row per bucket.
    DataSketches HLL is exact through its sparse regime (hundreds of
    items at the default lg_k=12) and ±~1.6%/√(2^lg_k) beyond.
    """
    keys = [bucket_col(F.col("ts"), bucket).alias("bucket_ts")]
    if group_col is not None:
        keys.insert(0, F.col(group_col))
    agg = points.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(int(lg_k)))
        .alias("sketch"))
    return agg.withColumn(
        "distinct_est", F.hll_sketch_estimate(F.col("sketch")))


def cascade_distinct(agg: DataFrame, to_bucket: str,
                     group_col: str | None = None) -> DataFrame:
    """Merge a finer distinct-sketch tier into a coarser one via
    `hll_union_agg` — the register-wise max union, so the cascaded
    sketch is IDENTICAL to a direct sketch of the raw points (the
    mergeability invariant tests pin with ==)."""
    keys = [bucket_col(F.col("bucket_ts"), to_bucket).alias("bucket_ts")]
    if group_col is not None:
        keys.insert(0, F.col(group_col))
    out = agg.groupBy(*keys).agg(
        F.hll_union_agg(F.col("sketch")).alias("sketch"))
    return out.withColumn(
        "distinct_est", F.hll_sketch_estimate(F.col("sketch")))


def rollup_quantile_sketch(points: DataFrame, bucket: str = "1h",
                           value_col: str = "value",
                           group_col: str | None = None,
                           k: int = 200) -> DataFrame:
    """Per-bucket MERGEABLE quantile tier as a KLL double sketch
    (Spark's DataSketches `kll_sketch_agg_double`): exact percentiles
    cannot cascade (p99-per-hour says nothing about p99-per-day), but
    KLL sketches merge with preserved rank-error bounds, so
    `cascade_quantile_sketch` re-aggregates tiers without touching raw
    points — the same economics as the numeric cascade and
    `rollup_distinct`.  This is the tier-structured big brother of the
    `approx_percentile` swap-in the latency_quantiles query documents.

    Output: (group?, bucket_ts, sketch, n).  KLL is EXACT while a
    bucket holds ≤ k values (the sketch retains them all) and has
    ~1.65% one-sided rank error at the default k=200 beyond.
    """
    keys = [bucket_col(F.col("ts"), bucket).alias("bucket_ts")]
    if group_col is not None:
        keys.insert(0, F.col(group_col))
    agg = points.groupBy(*keys).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"),
                                F.lit(int(k))).alias("sketch"))
    return agg.withColumn("n", F.kll_sketch_get_n_double(F.col("sketch")))


def cascade_quantile_sketch(agg: DataFrame, to_bucket: str,
                            group_col: str | None = None) -> DataFrame:
    """Merge a finer KLL tier into a coarser one
    (`kll_merge_agg_double`)."""
    keys = [bucket_col(F.col("bucket_ts"), to_bucket).alias("bucket_ts")]
    if group_col is not None:
        keys.insert(0, F.col(group_col))
    out = agg.groupBy(*keys).agg(
        F.kll_merge_agg_double(F.col("sketch")).alias("sketch"))
    return out.withColumn("n", F.kll_sketch_get_n_double(F.col("sketch")))


def quantiles_from_sketch(agg: DataFrame,
                          qs=(0.5, 0.95, 0.99)) -> DataFrame:
    """Read quantile columns (p50, p95, …) off a KLL tier row."""
    cols = [c for c in agg.columns if c != "sketch"]
    names = []
    for q in qs:
        # collision-safe label: p50, p95, p99, p99_9, p0_5 ...
        name = "p" + f"{float(q) * 100:g}".replace(".", "_")
        if name in names:
            raise ValueError(f"duplicate quantile label {name}")
        names.append(name)
        cols.append(F.kll_sketch_get_quantile_double(
            F.col("sketch"), F.lit(float(q))).alias(name))
    return agg.select(*cols)


def retention_sketch(points: DataFrame, key_col: str,
                     horizon_days: int = 7,
                     ts_col: str = "ts") -> DataFrame:
    """Sketch-based N-day retention (Theta set algebra): per day d,
    the distinct actives, how many of them are also active on day
    d+horizon (`theta_intersection` of the two days' sketches), and
    how many are not (`theta_difference` — the churned set).  The
    exact-join formulation (the `retention_7d` driver query) re-scans
    and self-joins raw events; this tier answers the same question
    from one row per day — at 100 TB the join disappears entirely.
    Theta sketches are EXACT below their nominal-entries threshold
    (4096 default), so small-corpus outputs equal the exact counts.

    Output: (day, active_est, retained_est, churned_est).
    """
    daily = (points.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"))
        .agg(F.theta_sketch_agg(F.col(key_col).cast("string"))
             .alias("sk")))
    nxt = daily.select(
        (F.col("day") - F.expr(f"interval {int(horizon_days)} day"))
        .alias("day"),
        F.col("sk").alias("sk_next"))
    # LEFT join: a day whose d+horizon has no events at all is full
    # churn (retained 0), not a missing row — an inner join would
    # silently drop the worst-retention days
    j = daily.join(nxt, "day", "left")
    active = F.theta_sketch_estimate(F.col("sk"))
    return j.select(
        "day",
        active.alias("active_est"),
        F.when(F.col("sk_next").isNull(), F.lit(0).cast("long"))
        .otherwise(F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk"), F.col("sk_next"))))
        .alias("retained_est"),
        F.when(F.col("sk_next").isNull(), active)
        .otherwise(F.theta_sketch_estimate(
            F.theta_difference(F.col("sk"), F.col("sk_next"))))
        .alias("churned_est"))


def _mg_compress_ranked(cnts: DataFrame, k: int, gcols: list):
    """Misra-Gries compression of an exact (…, key, cnt) count tier
    via a window rank — the bounded-memory formulation (one rank
    window + two keyed aggregations; no per-bucket array of the full
    distinct-key set, so a bucket with millions of active keys never
    materializes in one row): rank keys by (cnt desc, key asc),
    offset := the rank-(k+1) count VALUE (0 if ≤ k distinct — ties at
    the cut still decide survival by count value alone, so the result
    is deterministic and identical to the sort-based definition),
    keep rank ≤ k survivors with ``cnt - offset > 0``.  Returns
    (*gcols, bucket_ts, entries, err) with entries sorted
    (cnt desc, key asc); buckets whose survivors all drop keep a row
    with an empty entries array."""
    keys = gcols + ["bucket_ts"]
    w = (W.partitionBy(*keys)
         .orderBy(F.desc("cnt"), F.asc("key")))
    ranked = cnts.withColumn("_r", F.row_number().over(w))
    off = ranked.groupBy(*keys).agg(
        F.coalesce(F.max(F.when(F.col("_r") == k + 1, F.col("cnt"))),
                   F.lit(0)).cast("long").alias("err"))
    surv = (ranked.where(F.col("_r") <= k)
            .join(off, keys)
            .withColumn("_c2", (F.col("cnt") - F.col("err")).cast("long"))
            .where(F.col("_c2") > 0)
            .groupBy(*keys)
            .agg(F.expr(
                "transform(array_sort(collect_list("
                "struct(-_c2 AS neg, key AS key, _c2 AS cnt))), "
                "e -> struct(e.key AS key, e.cnt AS cnt))")
                .alias("entries")))
    return (off.join(surv, keys, "left")
            .withColumn("entries", F.coalesce(
                F.col("entries"),
                F.expr("CAST(array() AS "
                       "array<struct<key:string,cnt:bigint>>)"))))


def rollup_freq_sketch(points: DataFrame, bucket: str = "1h",
                       key_col: str = "series_id",
                       group_col: str | None = None,
                       k: int = 8) -> DataFrame:
    """Per-bucket heavy-hitters tier as a MERGEABLE Misra-Gries
    summary (Agarwal et al., "Mergeable summaries", PODS 2012) — the
    frequency member of the sketch-tier family next to
    `rollup_distinct` (HLL), `rollup_quantile_sketch` (KLL) and
    `retention_sketch` (Theta): exact top-k keys cannot cascade
    (hourly top-k says nothing about the daily top-k), but MG
    summaries merge losslessly within their error budget — pointwise
    counter sums, then one re-compression — so `cascade_freq_sketch`
    answers "top talkers per day" from one row per hour without ever
    re-scanning raw events.

    The summary is ≤ k counters built from the bucket's EXACT key
    counts (one map-side-partial shuffle) and compressed by
    subtracting the (k+1)-th largest count: each kept counter
    under-estimates its key's true count by at most ``err``, every key
    with true count > ``err`` is present, and with ≤ k distinct keys
    the summary is exact (``err`` 0).  The compression is a window
    rank + keyed aggregations (`_mg_compress_ranked`) — bounded
    memory at any key cardinality — and the whole construction is
    deterministic (ties at the cut are decided by count values
    alone), which is what lets a SQL twin replay it hash-exactly.
    Spark's built-in `count_min_sketch` is the rejected alternative:
    mergeable, but point-query-only (no key enumeration), and its
    width/depth memory dwarfs k counters.

    Output: (group?, bucket_ts, entries array<struct<key,cnt>>,
    err long, n long) — ``entries`` the surviving lower-bound
    counters, ``err`` the cumulative subtracted offset (true count ∈
    [cnt, cnt + err] for kept keys; absent keys have true ≤ err),
    ``n`` the exact bucket item total (so err ≤ n/(k+1) is checkable
    per row).
    """
    keys = [bucket_col(F.col("ts"), bucket).alias("bucket_ts")]
    if group_col is not None:
        keys.insert(0, F.col(group_col))
    cnts = points.groupBy(*keys,
                          F.col(key_col).cast("string").alias("key")
                          ).agg(F.count(F.lit(1)).alias("cnt"))
    return freq_sketch_from_counts(cnts, k=k, group_col=group_col)


def freq_sketch_from_counts(cnts: DataFrame, k: int = 8,
                            group_col: str | None = None) -> DataFrame:
    """Compress an EXACT per-(bucket, key) count tier — however it was
    produced: the batch groupBy in `rollup_freq_sketch`, or the
    finalized per-window count rows a streaming ingest emits
    (streaming/rollup_stream.py::stream_rollup_key_counts) — into the
    ≤ k-counter Misra-Gries summaries.  Because both paths compress
    identical exact counts, the streamed tier's summaries equal the
    batch tier's row for row.  Input columns: (group?, bucket_ts,
    key, cnt)."""
    gcols = ([group_col] if group_col is not None else [])
    keys = gcols + ["bucket_ts"]
    totals = cnts.groupBy(*keys).agg(
        F.sum("cnt").cast("long").alias("n"))
    comp = _mg_compress_ranked(cnts, int(k), gcols)
    return (comp.join(totals, keys)
            .select(*gcols, "bucket_ts", "entries", "err", "n"))


def cascade_freq_sketch(agg: DataFrame, to_bucket: str,
                        group_col: str | None = None,
                        k: int = 8) -> DataFrame:
    """Merge a finer Misra-Gries tier into a coarser one: explode the
    entries, pointwise-sum counters per key, re-compress with the same
    k; ``err`` adds the children's cumulative offsets to the new
    compression offset, so the [cnt, cnt + err] bracket stays sound
    through any cascade depth (the PODS'12 merge bound)."""
    gcols = ([group_col] if group_col is not None else [])
    keys = gcols + ["bucket_ts"]
    parent = bucket_col(F.col("bucket_ts"), to_bucket).alias("bucket_ts")
    summed = (agg.select(*gcols, parent, F.explode("entries").alias("e"))
              .groupBy(*keys, F.col("e.key").alias("key"))
              .agg(F.sum("e.cnt").alias("cnt")))
    child_tot = (agg.select(*gcols, parent, "err", "n")
                 .groupBy(*keys)
                 .agg(F.sum("err").alias("_err_in"),
                      F.sum("n").cast("long").alias("n")))
    comp = _mg_compress_ranked(summed, int(k), gcols)
    # left join from the child totals: a parent bucket whose children
    # were all empty summaries still gets a row (entries [], err from
    # the children alone)
    return (child_tot.join(comp, keys, "left")
            .select(
                *gcols, "bucket_ts",
                F.coalesce(F.col("entries"), F.expr(
                    "CAST(array() AS "
                    "array<struct<key:string,cnt:bigint>>)"))
                .alias("entries"),
                (F.col("_err_in") + F.coalesce(F.col("err"), F.lit(0)))
                .cast("long").alias("err"),
                "n"))



def freq_topk(agg: DataFrame, n_top: int = 5,
              group_col: str | None = None) -> DataFrame:
    """Read the top-N heavy hitters off a Misra-Gries tier row:
    (group?, bucket_ts, rank, key, est, est_hi, n) with ``est`` the
    lower-bound counter, ``est_hi = est + err`` the upper bound, ranked
    by (est desc, key asc) — deterministic, so SQL twins hash-match."""
    gcols = ([group_col] if group_col is not None else [])
    ex = agg.select(*gcols, "bucket_ts", "err", "n",
                    F.explode("entries").alias("e"))
    w = W.partitionBy(*(gcols + ["bucket_ts"])).orderBy(
        F.desc(F.col("e.cnt")), F.asc(F.col("e.key")))
    return (ex.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(n_top))
            .select(*gcols, "bucket_ts", "rank",
                    F.col("e.key").alias("key"),
                    F.col("e.cnt").alias("est"),
                    (F.col("e.cnt") + F.col("err")).alias("est_hi"),
                    "n"))


def cohort_retention(points: DataFrame, key_col: str,
                     max_offset_days: int = 14,
                     ts_col: str = "ts") -> DataFrame:
    """Cohort retention triangle — the day-N generalization of the
    single-offset `retention_7d` question: users are cohorted by their
    FIRST active day, and for each (cohort day, offset 0..K) the
    matrix reports how many of that cohort were active again k days
    later and the retention rate.  The classic product-analytics
    read-out (Amplitude/Mixpanel retention grid) over the event
    stream.

    Plan: distinct (key, day) activity (ONE shuffle, map-side
    partial), per-key min-day cohort assignment off that same tier
    (second small agg), one equi-join back on the key, bounded offset
    filter, then a (cohort, offset)-keyed count — because activity is
    already distinct per (key, day), the count IS the distinct-user
    count, no countDistinct shuffle.  All exact integer counts + one
    division, so SQL twins hash-match.  At 100 TB the join is keyed
    by user over the day-deduplicated tier (~10³× smaller than raw
    events), and `retention_sketch` remains the no-join Theta
    alternative when approximate answers suffice.

    Output: (cohort_day, offset_d, n_active, n_cohort, rate) for
    offsets 0..max_offset_days (offset 0 row pins rate 1.0 by
    construction).
    """
    K = int(max_offset_days)
    if K < 0:
        raise ValueError("max_offset_days must be >= 0")
    act = (points.select(
        F.col(key_col).alias("key"),
        F.date_trunc("day", F.col(ts_col)).alias("day"))
        .distinct())
    cohort = act.groupBy("key").agg(F.min("day").alias("cohort_day"))
    sizes = cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_cohort"))
    j = (act.join(cohort, "key")
         .withColumn("offset_d",
                     F.datediff(F.col("day"), F.col("cohort_day")))
         .where(F.col("offset_d") <= K))
    grid = (j.groupBy("cohort_day", "offset_d")
            .agg(F.count(F.lit(1)).alias("n_active")))
    return (grid.join(sizes, "cohort_day")
            .select("cohort_day", "offset_d", "n_active", "n_cohort",
                    (F.col("n_active").cast("double")
                     / F.col("n_cohort").cast("double")).alias("rate")))

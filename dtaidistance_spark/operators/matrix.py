"""Blocked all-pairs DTW distance matrix over a DataFrame of series.

The reference's central relational operator (distance_matrix,
dtw.py:725-828) is a triangular theta self-join with an expensive
per-pair kernel; its own distribution primitive is the rectangular
``block`` (dtw.py:757-761, intended "to distribute the computations over
multiple nodes", README.md:191-193).

Every self-matrix here — DTW (:func:`distance_matrix`) and weighted DTW
(:func:`distance_matrix_weighted`) — runs through ONE pair executor,
:func:`_pair_matrix`.  It takes the source columns, a pair space (the
upper triangle, or a ``block`` rectangle with or without ``triu``) and a
per-pair kernel callback ``kernel(ii, jj, *corpus) -> (i, j, d)`` where
``corpus`` holds one ``{id: array}`` dict per source column.  One
persist, one stats pass and one gate — estimated bytes of the columns it
would broadcast against ``spark.dtaidistance.broadcastMatrixMaxBytes`` —
choose between two physical strategies:

* **broadcast pair ranges** (under the gate): the corpus is collected
  once and broadcast, and work is distributed as ``(lo, hi)`` ranges of
  the linear pair space.  Each task unranks its pair coordinates in
  closed form, so the driver never materializes O(n²) pair lists.  The
  ranges follow the reference's OMP ``guided`` loop
  (dd_dtw_openmp.c:99), weighted by estimated kernel cost
  ``len_i·len_j``: each range takes 1/(4·par) of the cost still
  remaining, so early tasks are big and the tail is fine-grained; on
  equal lengths cost is proportional to pair count.  A range yields
  sub-batches of at most ``_SUB_BATCH_PAIRS`` pairs, so a task's memory
  stays bounded whatever the pair count.
* **chunk-pair shuffle** (over the gate): series get a chunk id, the
  chunk-pair space is pruned declaratively (``ci <= cj`` and the block)
  before any data moves, each row is replicated to its surviving partner
  chunks, and each ``(ci, cj)`` group runs the kernel in one
  ``applyInPandas`` call.

Output is the long-format ``(i, j, d)`` DataFrame — the "condensed"
matrix is this table ordered row-major; a full numpy matrix is
materialized only driver-side for small n.  :func:`distance_matrix_cross`
broadcasts the query set, streams the corpus and runs the same DTW pair
kernel, :func:`_compute_pairs`.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.dtw import (DtwSettings, _BATCH_ELEMS, dtw_distance_batch,
                           dtw_distance_batch_indexed, lb_keogh_batch)
from ..kernels.extras import weighted_warping_paths
from ..resources import track_broadcast, track_persist

PAIR_SCHEMA = "i long, j long, d double"

# Pairs per yield of a broadcast range task.  A range's index, unranking,
# kernel and output arrays peak near 100 B/pair before the yield, so this
# bounds a task's Python-side working set near 200 MB however large its
# range is (measured on a 12M-pair range: 837 MB in one shot, 206 MB in
# 2M-pair sub-batches).
_SUB_BATCH_PAIRS = 2_000_000

# Worker-side bytes of stacked (n, L) corpora kept for the indexed
# kernel entry; matches the default broadcast gate, so one broadcast
# corpus always fits.
_CORPUS_CACHE_BYTES = 256 * 1024 * 1024


def _series_np(v) -> Optional[np.ndarray]:
    """Arrow→numpy for a series cell: 1-D array<double> or 2-D
    array<array<double>> (n-D series and weight profiles arrive as
    object arrays of rows).  A null cell stays None."""
    if v is None:
        return None
    a = np.asarray(v)
    if a.dtype == object:
        a = np.stack([np.asarray(x, dtype=np.float64) for x in v])
    return a.astype(np.float64, copy=False)


def with_index(series_df: DataFrame,
               order_col: str = "series_id") -> DataFrame:
    """Assign a dense 0-based index ``i`` by ``order_col`` ordering — two-pass
    per-partition offset scheme, no single-partition exchange.

    Pass 1: range-repartition by ``order_col`` (globally ordered partition
    ranges), sort within partitions, persist, and collect the tiny
    per-partition row counts.  Pass 2: a running counter plus the
    cumulative offsets yields the dense global index.  Every stage is
    parallel; the only driver data is one count per partition, where a
    global ``row_number()`` would serialize the corpus through one task.
    """
    num_partitions = series_df.sparkSession.sparkContext.defaultParallelism
    # Persist the INPUT before the range exchange: repartitionByRange
    # runs a sampling pass that otherwise re-executes the entire
    # upstream plan once just to pick boundaries, and the exchange
    # itself executes it a second time (measured 29 s -> ~10 s for a
    # 15k-series corpus whose upstream is the full rollup -> gap-fill
    # -> arrays pipeline).  Both passes now read the cache;
    # release_all() frees it with every other handle.
    series_df = track_persist(series_df.persist())
    part = (series_df
            .repartitionByRange(num_partitions, F.col(order_col))
            .sortWithinPartitions(order_col)
            .withColumn("__pid", F.spark_partition_id()))
    part = track_persist(part.persist())
    counts = {r["__pid"]: r["cnt"] for r in
              part.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = part.drop("__pid").schema.add("i", "long")
    in_names = [f.name for f in part.schema.fields]
    pid_pos = in_names.index("__pid")
    keep_pos = [k for k, name in enumerate(in_names) if name != "__pid"]
    out_names = [in_names[k] for k in keep_pos] + ["i"]

    def assign(batches):
        # mapInArrow, not mapInPandas: the job only appends a counter
        # column, and an Arrow->pandas->Arrow roundtrip would rebuild
        # every array<double> series cell as per-row Python objects
        # (~15 s of pure conversion on a 15k x 504 corpus); record
        # batches pass through zero-copy instead.
        import pyarrow as pa

        seen = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            base = offsets[int(rb.column(pid_pos)[0].as_py())]
            idx = pa.array(np.arange(base + seen, base + seen + rb.num_rows,
                                     dtype=np.int64), type=pa.int64())
            seen += rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [rb.column(k) for k in keep_pos] + [idx], names=out_names)

    return part.mapInArrow(assign, schema=out_schema)


def _norm_block(block) -> Tuple[Optional[tuple], bool]:
    if block is None or block == 0:
        return None, True
    triu = True
    if len(block) > 2 and block[2] is False:
        triu = False
    return ((int(block[0][0]), int(block[0][1])),
            (int(block[1][0]), int(block[1][1]))), triu


class _SharedCorpus(dict):
    """An ``{id: array}`` corpus dict that many tasks of one worker share:
    the broadcast-held corpus.  Only these dicts get their stacked matrix
    cached; one-shot dicts (shuffle groups, cross batches) are stacked and
    dropped."""


# id(dict) -> (dict, (ids, V), retained bytes), oldest first
_CORPUS_CACHE: dict = {}


def _corpus_matrix(values_by_idx: dict):
    """(sorted ids, V) stacking an equal-length 1-D corpus dict into one
    (n, L) matrix, or None for ragged or n-D corpora.

    A :class:`_SharedCorpus` is cached per dict identity, so every task in
    a worker reuses the stack of the same broadcast-held dict.  The cache
    holds a strong reference to the dict, which keeps id() stable, and
    counts both the dict's arrays and the stack against
    ``_CORPUS_CACHE_BYTES``; past it the oldest entries are evicted (the
    newest entry always stays)."""
    shared = isinstance(values_by_idx, _SharedCorpus)
    key = id(values_by_idx)
    hit = _CORPUS_CACHE.get(key) if shared else None
    if hit is not None and hit[0] is values_by_idx:
        return hit[1]
    arrs = list(values_by_idx.values())
    if not arrs or any(a.ndim != 1 or len(a) != len(arrs[0]) for a in arrs):
        return None
    ids = np.fromiter(values_by_idx.keys(), dtype=np.int64, count=len(arrs))
    order = np.argsort(ids)
    res = (ids[order], np.stack([arrs[k] for k in order]))
    if shared:
        _CORPUS_CACHE[key] = (values_by_idx, res, 2 * res[1].nbytes)
        while (len(_CORPUS_CACHE) > 1 and sum(
                e[2] for e in _CORPUS_CACHE.values()) > _CORPUS_CACHE_BYTES):
            del _CORPUS_CACHE[next(iter(_CORPUS_CACHE))]
    return res


def _compute_pairs(left: np.ndarray, right_idx: np.ndarray,
                   values_by_idx: dict, settings: DtwSettings):
    """The DTW pair kernel: distances for explicit (i, j) id pairs →
    ``(i, j, d)``, with equal-shape pairs batched through the vectorized
    kernel at its cache-optimal batch size.

    Under ``max_dist`` an LB_Keogh prefilter skips pairs whose bound
    already exceeds it.  LB_Keogh bounds DTW only when no prefix or suffix
    can be skipped, so the prefilter is off under ``psi``.  Otherwise
    equal-length 1-D corpora skip the per-batch stacking: the indexed
    kernel entry reads series rows from one (n, L) matrix, so no input
    bytes are copied per pair.  Results are identical either way."""
    left = np.asarray(left, dtype=np.int64)
    right_idx = np.asarray(right_idx, dtype=np.int64)
    use_lb = (settings.max_dist is not None and settings.max_dist > 0
              and settings.split_psi() == (0, 0, 0, 0))
    corpus = (_corpus_matrix(values_by_idx)
              if len(left) and not use_lb else None)
    if corpus is not None:
        ids, V = corpus
        d = dtw_distance_batch_indexed(V, np.searchsorted(ids, left),
                                       np.searchsorted(ids, right_idx),
                                       settings=settings)
        return left, right_idx, d
    out_i, out_j, out_d = [], [], []
    byshape: dict = {}
    for i, j in zip(left, right_idx):
        byshape.setdefault((len(values_by_idx[i]), len(values_by_idx[j])),
                           []).append((i, j))
    for (l1, l2), pairs in byshape.items():
        pairs = np.asarray(pairs, dtype=np.int64)
        # each np.stack copy stays a few MB (reused heap), never tens
        bmax = max(64, _BATCH_ELEMS // (l1 + l2 + 1))
        for s in range(0, len(pairs), bmax):
            chunk = pairs[s:s + bmax]
            X1 = np.stack([values_by_idx[i] for i in chunk[:, 0]])
            X2 = np.stack([values_by_idx[j] for j in chunk[:, 1]])
            if use_lb and l1 == l2 and X1.ndim == 2:
                lb = lb_keogh_batch(X1, X2, window=settings.window,
                                    inner_dist=settings.inner_dist)
                todo = lb <= settings.max_dist
            else:
                todo = None
            if todo is None or todo.all():
                d = dtw_distance_batch(X1, X2, settings=settings)
            else:
                d = np.full(len(chunk), np.inf)
                if todo.any():
                    d[todo] = dtw_distance_batch(X1[todo], X2[todo],
                                                 settings=settings)
            out_i.append(chunk[:, 0])
            out_j.append(chunk[:, 1])
            out_d.append(d)
    if not out_i:
        return (np.array([], np.int64),) * 2 + (np.array([], np.float64),)
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_d)


def _weighted_pairs(ii: np.ndarray, jj: np.ndarray, vals: dict, wts: dict,
                    window: Optional[int] = None):
    """The weighted-DTW pair kernel: row i's weight profile reshapes the
    local difference (reference dtw_weighted.py:121-152)."""
    d = [weighted_warping_paths(vals[a], vals[b], weights=wts[a],
                                window=window)[0] for a, b in zip(ii, jj)]
    return ii, jj, np.asarray(d, dtype=np.float64)


def distance_matrix(series_df: DataFrame, settings: Optional[DtwSettings] = None,
                    block=None, chunk_size: Optional[int] = None,
                    index_col: str = "i", values_col: str = "values",
                    order_col: Optional[str] = None,
                    **kwargs) -> DataFrame:
    """All-pairs DTW distances → long DataFrame ``(i, j, d)``.

    ``block=((rb,re),(cb,ce)[,triu])`` follows reference semantics
    (dtw.py:730, :757-761): with triu (default) only pairs ``i<j`` inside
    the block are produced; with ``triu=False`` the full rectangle.

    ``order_col`` replaces ``index_col``: ``i`` is then the 0-based rank
    of ``order_col``, the index ``with_index(order_col=...)`` assigns.
    The broadcast strategy ranks on the driver after its one corpus
    collect, so no index pass runs; the shuffle strategy calls
    :func:`with_index`.  ``order_col`` must be a string or integral
    column: the driver's order of floating-point NaN differs from
    Spark's.

    ``chunk_size`` applies to the chunk-pair shuffle strategy; ``None``
    sizes chunks so the pair space yields ≈8 groups per core — enough
    units for the scheduler to balance the quadratic per-group cost,
    while keeping series replication (one copy per partner chunk) low.
    """
    s = settings if settings is not None else DtwSettings(**kwargs)
    blk, triu = _norm_block(block)
    if order_col is not None and not isinstance(
            series_df.schema[order_col].dataType, (T.StringType,
                                                   T.IntegralType)):
        raise TypeError(f"order_col {order_col!r} must be a string or "
                        "integral column")
    key = (F.col(order_col) if order_col is not None
           else F.col(index_col).cast("long").alias("i"))
    src = series_df.select(key, F.col(values_col).alias("values"))
    if blk is not None and order_col is None:
        # drop rows outside the block early; ranked ids do not exist
        # yet under order_col, and the executor keeps only block pairs
        (rb, re_), (cb, ce) = blk
        src = src.where(
            ((F.col("i") >= rb) & (F.col("i") < re_)) |
            ((F.col("i") >= cb) & (F.col("i") < ce)))
    return _pair_matrix(src, ["values"], partial(_compute_pairs, settings=s),
                        blk, triu, chunk_size, order_col)


def distance_matrix_weighted(series_df: DataFrame, window: Optional[int] = None,
                             index_col: str = "i", values_col: str = "values",
                             weights_col: str = "weights") -> DataFrame:
    """All-pairs *weighted* DTW (reference dtw_weighted.py:121-152
    distance_matrix): per-point 8-knot weight profiles reshape the local
    difference of the row series.  The per-pair kernel is
    kernels/extras.weighted_warping_paths.  Like the reference (triu
    only, matrix[i,j] uses weights[i]), the output is asymmetric in
    principle and only i<j pairs are produced.  Runs on the same pair
    executor as :func:`distance_matrix`; the weight profiles count
    toward the broadcast gate and ride along on either strategy."""
    src = series_df.select(F.col(index_col).cast("long").alias("i"),
                           F.col(values_col).alias("values"),
                           F.col(weights_col).alias("weights"))
    return _pair_matrix(src, ["values", "weights"],
                        partial(_weighted_pairs, window=window))


def _pair_matrix(src: DataFrame, data_cols: list, kernel, blk=None,
                 triu: bool = True, chunk_size: Optional[int] = None,
                 order_col: Optional[str] = None) -> DataFrame:
    """The pair executor: ``src`` holds ``i`` or, with ``order_col``,
    that column to rank ``i`` by, plus ``data_cols``; ``kernel(ii, jj,
    *dicts)`` computes ``(i, j, d)`` for id pairs given one ``{id:
    array}`` dict per data column.  Both strategies keep only the
    block's pairs, so rows outside it may stay in ``src``."""
    # Persist BEFORE the single stats pass: the upstream plan (often the
    # whole rollup → gap-fill → arrays pipeline) must execute exactly
    # once, not once for the stats and again for the collect or shuffle.
    src = track_persist(src.persist())
    points = [F.size(F.flatten(c))
              if src.schema[c].dataType.elementType.typeName() == "array"
              else F.size(c) for c in data_cols]
    imax = F.max("i") if order_col is None else F.count("*") - 1
    stats = src.agg(F.count("*").alias("n"), imax.alias("imax"),
                    *[F.avg(p) for p in points]).collect()[0]
    est_bytes = 8 * int(stats["n"] or 0) * sum(
        float(a or 0) for a in stats[2:])
    max_bytes = float(src.sparkSession.conf.get(
        "spark.dtaidistance.broadcastMatrixMaxBytes", str(256 * 1024 * 1024)))
    # When the corpus fits in executor memory, broadcast it and move ONLY
    # pair-range tasks — the chunk-pair plan replicates every series to
    # ~n/chunk_size partner groups through the shuffle, which only pays
    # for corpora that cannot be broadcast.
    if est_bytes <= max_bytes:
        return _broadcast_ranges(src, data_cols, kernel, blk, triu,
                                 order_col)
    if order_col is not None:
        src = with_index(src, order_col=order_col).drop(order_col)
    par = src.sparkSession.sparkContext.defaultParallelism
    if chunk_size is None:
        n_chunks = max(1, int(np.ceil(np.sqrt(16.0 * par))))
        chunk_size = max(8, -(-(int(stats["imax"] or 0) + 1) // n_chunks))
    return _chunk_shuffle(src, data_cols, kernel, blk, triu, chunk_size, par)


def _collect_corpus(src: DataFrame, data_cols: list,
                    order_col: Optional[str] = None) -> Tuple[np.ndarray, list]:
    """Collect ``i`` (or ``order_col``) + ``data_cols`` once → (sorted
    ids, one ``{id: float64 array}`` dict per column).

    The collect is one ``toArrow()``: a flat, null-free ``array<double>``
    column arrives as ONE contiguous values buffer + offsets, and each
    series becomes a numpy slice view of it — no per-row Python objects.
    Nested (n-D series, weight profiles) or null-holding columns convert
    cell by cell.

    With ``order_col`` the id of a row is its 0-based rank in a stable
    Arrow sort of that column: Arrow compares strings by bytes, which is
    Spark's string order, integers by value, and nulls go first as in
    Spark's ascending sort, so on distinct string or integral values
    the ids equal :func:`with_index`'s (floats are not: Arrow puts NaN
    with the nulls, Spark above every number)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tb = src.select(order_col or "i", *data_cols).toArrow()
    if order_col is None:
        keys = [int(i) for i in tb.column("i").to_numpy()]
    else:
        rank = np.empty(tb.num_rows, dtype=np.int64)
        rank[pc.sort_indices(tb.column(order_col),
                             null_placement="at_start").to_numpy()] = \
            np.arange(tb.num_rows)
        keys = rank.tolist()
    dicts = []
    for c in data_cols:
        va = tb.column(c).combine_chunks()
        if (va.type.value_type == pa.float64() and va.null_count == 0
                and va.values.null_count == 0):
            off = va.offsets.to_numpy()
            buf = va.values.to_numpy()
            dicts.append(_SharedCorpus(
                (k, buf[off[r]:off[r + 1]]) for r, k in enumerate(keys)))
        else:
            dicts.append(_SharedCorpus(
                (k, _series_np(v)) for k, v in zip(keys, va.to_pandas())))
    return np.array(sorted(dicts[0]), dtype=np.int64), dicts


def _range_pairs(lo: int, hi: int, rows: np.ndarray,
                 cols: Optional[np.ndarray], triu: bool,
                 cap: int = _SUB_BATCH_PAIRS) -> Iterator[tuple]:
    """``(ii, jj)`` id arrays for positions ``[lo, hi)`` of a linear pair
    space, in sub-batches of at most ``cap`` positions.  ``cols=None``:
    the row-major upper triangle over ``rows``, unranked in closed form;
    otherwise the ``rows × cols`` rectangle, kept to ``i < j`` under
    ``triu``."""
    for a in range(lo, hi, cap):
        p = np.arange(a, min(hi, a + cap), dtype=np.int64)
        if cols is None:
            ri, rj = _triu_unrank(p, len(rows))
            yield rows[ri], rows[rj]
            continue
        ii, jj = rows[p // len(cols)], cols[p % len(cols)]
        if triu:
            keep = ii < jj
            ii, jj = ii[keep], jj[keep]
        yield ii, jj


def _broadcast_ranges(src: DataFrame, data_cols: list, kernel, blk,
                      triu: bool, order_col: Optional[str] = None) -> DataFrame:
    """Broadcast strategy: the corpus dicts are broadcast once and the
    pair space is cut into cost-weighted guided ``(lo, hi)`` range tasks;
    only the O(n) series ids travel with it."""
    spark = src.sparkSession
    sc = spark.sparkContext
    ids, corpus = _collect_corpus(src, data_cols, order_col)
    lens = np.array([len(corpus[0][int(i)]) for i in ids], dtype=np.int64)
    if blk is None:
        rows, cols = ids, None
        n_pairs = len(ids) * (len(ids) - 1) // 2
    else:
        (rb, re_), (cb, ce) = blk
        rsel, csel = (ids >= rb) & (ids < re_), (ids >= cb) & (ids < ce)
        rows, cols = ids[rsel], ids[csel]
        n_pairs = len(rows) * len(cols)
    if n_pairs == 0:
        return spark.createDataFrame([], PAIR_SCHEMA)
    cost_upto, total = (_triu_cost_fn(lens) if blk is None
                        else _rect_cost_fn(lens[rsel], lens[csel]))
    ranges = _guided_ranges_cost(cost_upto, n_pairs, total,
                                 sc.defaultParallelism)
    # one range per partition, IN ORDER (big ranges first): Spark launches
    # tasks by partition index as slots free, which is exactly OMP guided
    # scheduling; .repartition() would round-robin the order away.  Task
    # k reads range k from the closure: spark.range needs no Python-side
    # row conversion (measured ~0.1 s less per task than parallelize on a
    # 4-core local[4] session)
    rdf = spark.range(len(ranges), numPartitions=len(ranges))
    bcs = [track_broadcast(sc.broadcast(d)) for d in corpus]
    space = track_broadcast(sc.broadcast((rows, cols)))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dicts = [b.value for b in bcs]
        rows_, cols_ = space.value
        for pdf in batches:
            for k in pdf["id"]:
                lo, hi = ranges[int(k)]
                for ii, jj in _range_pairs(lo, hi, rows_, cols_, triu):
                    if len(ii):
                        oi, oj, od = kernel(ii, jj, *dicts)
                        yield pd.DataFrame({"i": oi, "j": oj, "d": od})

    return rdf.mapInPandas(compute, schema=PAIR_SCHEMA)


def _chunk_shuffle(src: DataFrame, data_cols: list, kernel, blk, triu: bool,
                   chunk_size: int, par: int) -> DataFrame:
    """Chunk-pair shuffle strategy: every surviving ``(ci, cj)`` chunk
    pair is one ``applyInPandas`` group that runs the kernel over its
    side-0 × side-1 pairs."""
    # the fan-out multiplies each row ~n/chunk_size times in the map
    # stage — that write must come from enough tasks
    if src.rdd.getNumPartitions() < max(2, par // 2):
        src = src.repartition(par)
    tagged = _chunk_pair_tagged(src, chunk_size, triu, blk, data_cols, par)

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf[~pdf["i"].duplicated()]
        keys = [int(i) for i in first["i"]]
        dicts = [{k: _series_np(v) for k, v in zip(keys, first[c])}
                 for c in data_cols]
        li = np.sort(pdf.loc[pdf["side"] == 0, "i"].unique())
        rj = np.sort(pdf.loc[pdf["side"] == 1, "i"].unique())
        ii, jj = (g.ravel() for g in np.meshgrid(li, rj, indexing="ij"))
        keep = ii < jj if triu else np.ones(len(ii), dtype=bool)
        if blk is not None:
            (rb, re_), (cb, ce) = blk
            keep &= (ii >= rb) & (ii < re_) & (jj >= cb) & (jj < ce)
        oi, oj, od = kernel(ii[keep], jj[keep], *dicts)
        return pd.DataFrame({"i": oi, "j": oj, "d": od})

    return tagged.groupBy("ci", "cj").applyInPandas(compute, schema=PAIR_SCHEMA)


def _chunk_pair_tagged(src: DataFrame, chunk_size: int, triu: bool, blk,
                       data_cols: list, par: int) -> DataFrame:
    """Chunked-shuffle plan: assign chunk ids, prune the chunk-pair space
    declaratively (triangular symmetry + block restriction — the
    reference's own distribution primitive, dtw.py:757-761), replicate
    each row to its surviving partner chunks, and hash-repartition on the
    group key.  Callers groupBy("ci","cj") and apply their kernel.

    The explicit repartition matters: the UDF stage's cost is CPU
    (quadratic pairs per group), not bytes — AQE's byte-based partition
    coalescing must not shrink its parallelism (observed 3×32 cores idle
    when it did).  groupBy reuses this partitioning, and AQE leaves
    user-specified repartitioning alone.

    Ragged corpora get LENGTH-balanced chunks so each chunk holds ~equal
    total series length and the quadratic per-group cost stays ~equal
    under power-law lengths.  Scale shape: one parallel histogram
    aggregate over fine id-range buckets (≤64k rows to the driver — never
    a single-partition window or a full-id collect), driver prefix-sums
    it into bucket→chunk boundaries, broadcast-joined back.  Chunk ids
    stay monotone in ``i``, so the triangular chunk-pair pruning below
    stays exact.  Equal-length corpora keep the plain ``i // chunk_size``
    projection (no extra jobs); block restriction keeps fixed-size chunks
    (its pruning arithmetic indexes chunks by ``id // chunk_size``)."""
    len_col = F.size(data_cols[0])
    probe = None
    if blk is None:
        # ONE combined aggregate decides raggedness AND feeds the
        # histogram bounds
        probe = src.agg(
            (F.min(len_col) != F.max(len_col)).alias("r"),
            F.min("i"), F.max("i"), F.sum(len_col),
            F.count("*")).collect()[0]
    if probe is not None and probe["r"]:
        _, imin, imax, tot, n_rows = probe
        n_chunks = max(1, -(-int(n_rows) // chunk_size))
        nb = min(max(n_chunks * 64, 256), 65536)
        span = int(imax) - int(imin) + 1
        bexpr = ((F.col("i") - F.lit(int(imin))) * nb / span).cast("long")
        hist = sorted(src.groupBy(bexpr.alias("b"))
                      .agg(F.sum(len_col).alias("s")).collect())
        target = max(1.0, float(tot) / n_chunks)
        cum = 0
        mapping = []
        for r in hist:
            # chunk from the length mass BEFORE the bucket: monotone
            # nondecreasing in b, hence in i
            mapping.append((int(r["b"]),
                            min(int(cum / target), n_chunks - 1)))
            cum += int(r["s"])
        mdf = src.sparkSession.createDataFrame(mapping, "b long, chunk long")
        src = src.withColumn("b", bexpr) \
                 .join(F.broadcast(mdf), "b").drop("b")
    else:
        src = src.withColumn("chunk", (F.col("i") / chunk_size).cast("long"))
    chunks = src.select("chunk").distinct()
    ca = chunks.select(F.col("chunk").alias("ci"))
    cb_df = chunks.select(F.col("chunk").alias("cj"))
    cp = ca.crossJoin(cb_df)
    if triu:
        cp = cp.where(F.col("ci") <= F.col("cj"))
    if blk is not None:
        (rb, re_), (cb, ce) = blk
        cp = cp.where(
            (F.col("ci") >= rb // chunk_size) & (F.col("ci") <= (re_ - 1) // chunk_size) &
            (F.col("cj") >= cb // chunk_size) & (F.col("cj") <= (ce - 1) // chunk_size))
    left = src.join(F.broadcast(cp), src["chunk"] == cp["ci"]) \
              .select("ci", "cj", F.lit(0).alias("side"), "i", *data_cols)
    right = src.join(F.broadcast(cp), src["chunk"] == cp["cj"]) \
               .select("ci", "cj", F.lit(1).alias("side"), "i", *data_cols)
    return left.unionByName(right).repartition(4 * par, "ci", "cj")


def _triu_unrank(p: np.ndarray, n: int) -> Tuple[np.ndarray, np.ndarray]:
    """Closed-form unranking of row-major upper-triangular pair indices:
    linear position ``p`` in [0, n(n-1)/2) → (row, col) with row<col.
    Inverse of :func:`condensed_index`; float64-exact for n < 2^26, with
    an integer correction step for boundary round-off."""
    p = np.asarray(p, dtype=np.int64)
    b = 2 * n - 1
    i = np.floor((b - np.sqrt(b * b - 8.0 * p)) / 2).astype(np.int64)
    # correct float round-off at range boundaries
    start = lambda r: r * n - r * (r + 1) // 2
    i = np.where(start(i + 1) <= p, i + 1, i)
    i = np.where(start(i) > p, i - 1, i)
    j = p - start(i) + i + 1
    return i, j


def _guided_ranges_cost(cost_upto, n_pairs: int, total: float,
                        par: int) -> list:
    """Guided pair ranges measured in estimated kernel cost — the
    reference's OMP ``guided`` matrix loop (dtw.py:681
    ``schedule(guided)``, dd_dtw_openmp.c:111-116) re-expressed for
    Spark's task scheduler.  Range k covers ``remaining_cost / (4·par)``
    with a floor, so early tasks are big and the final wave is
    fine-grained: a straggler holds at most a small chunk of the job.
    A DTW pair costs O(len_i · len_j); the reference decays in pair
    count, but for a power-law ragged corpus an early count-based range
    can hold 10-100x the work of a late one, and the driver knows every
    length upfront.  On equal lengths cost is proportional to count.

    The first wave takes 1/(4·par) rather than 1/(2·par): a range
    task's fixed cost is ~ms, while a 2·par first wave at a 15k-series
    corpus made single tasks ~40 s, so any one slowed worker stretched
    the job by most of a wave.

    ``cost_upto(p)`` must return the closed-form cumulative cost of the
    first ``p`` pairs of the linear pair space; boundaries are found by
    binary search on it, so nothing O(n²) is materialized.  Outputs are
    a partition of [0, n_pairs) — the kernel computes the same pairs
    whatever the boundaries, so results do not depend on them."""
    ranges = []
    lo = 0
    cost_lo = 0.0
    floor_c = max(total / n_pairs, total / (par * 24))
    while lo < n_pairs:
        want = cost_lo + max(floor_c, (total - cost_lo) / (4 * par))
        if want >= total:
            hi = n_pairs
        else:
            a, b = lo + 1, n_pairs
            while a < b:
                mid = (a + b) // 2
                if cost_upto(mid) >= want:
                    b = mid
                else:
                    a = mid + 1
            hi = a
        ranges.append((lo, hi))
        cost_lo = cost_upto(hi)
        lo = hi
    return ranges


def _triu_cost_fn(lens: np.ndarray):
    """(cost_upto, total) for the row-major upper-triangular pair space
    over series with the given lengths (in unranked-id order)."""
    n = len(lens)
    L = np.asarray(lens, dtype=np.float64)
    P = np.concatenate([[0.0], np.cumsum(L)])          # prefix len sums
    row_cost = L[:n - 1] * (P[n] - P[1:n])             # rows 0..n-2
    cumrow = np.concatenate([[0.0], np.cumsum(row_cost)])
    n_pairs = n * (n - 1) // 2
    total = float(cumrow[-1])

    def cost_upto(p: int) -> float:
        if p <= 0:
            return 0.0
        if p >= n_pairs:
            return total
        r, j = _triu_unrank(np.array([p], dtype=np.int64), n)
        r, j = int(r[0]), int(j[0])
        # pairs before p: rows < r complete, plus (r, r+1..j-1)
        return float(cumrow[r] + L[r] * (P[j] - P[r + 1]))

    return cost_upto, total


def _rect_cost_fn(row_lens: np.ndarray, col_lens: np.ndarray):
    """(cost_upto, total) for the rectangular (block) pair space with
    linear order p -> (rows[p // C], cols[p % C])."""
    Lr = np.asarray(row_lens, dtype=np.float64)
    Lc = np.asarray(col_lens, dtype=np.float64)
    Pc = np.concatenate([[0.0], np.cumsum(Lc)])
    sum_c = float(Pc[-1])
    cumrow = np.concatenate([[0.0], np.cumsum(Lr * sum_c)])
    C = len(Lc)
    n_pairs = len(Lr) * C
    total = float(cumrow[-1])

    def cost_upto(p: int) -> float:
        if p <= 0:
            return 0.0
        if p >= n_pairs:
            return total
        r, k = p // C, p % C
        return float(cumrow[r] + Lr[r] * Pc[k])

    return cost_upto, total


def distance_matrix_cross(query_df: DataFrame, corpus_df: DataFrame,
                          settings: Optional[DtwSettings] = None,
                          index_col: str = "i", values_col: str = "values",
                          **kwargs) -> DataFrame:
    """Rectangular cross-set distances (reference ``_matrices`` variant,
    dd_dtw.c:5227-5323): every query × every corpus series.  The query
    set is broadcast (it is small by assumption); the corpus streams, and
    each batch of (query, corpus) rows runs through the self-matrix pair
    kernel :func:`_compute_pairs` — series ids identify series, as they
    do for every matrix here."""
    s = settings if settings is not None else DtwSettings(**kwargs)
    q = query_df.select(F.col(index_col).cast("long").alias("qi"),
                        F.col(values_col).alias("qvalues"))
    c = corpus_df.select(F.col(index_col).cast("long").alias("i"),
                         F.col(values_col).alias("values"))
    joined = c.crossJoin(F.broadcast(q))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one kernel key space per batch: queries 0..nq-1, corpus
            # series nq.. (query and corpus ids may overlap)
            qids, qfirst, qk = np.unique(pdf["qi"].to_numpy(),
                                         return_index=True,
                                         return_inverse=True)
            cids, cfirst, ck = np.unique(pdf["i"].to_numpy(),
                                         return_index=True,
                                         return_inverse=True)
            nq = len(qids)
            vals = {k: _series_np(pdf["qvalues"].iat[r])
                    for k, r in enumerate(qfirst)}
            vals.update({nq + k: _series_np(pdf["values"].iat[r])
                         for k, r in enumerate(cfirst)})
            oq, oc, od = _compute_pairs(qk, nq + ck, vals, s)
            yield pd.DataFrame({"qi": qids[oq], "i": cids[oc - nq], "d": od})

    return joined.mapInPandas(compute, schema="qi long, i long, d double")


# --- driver-side assembly (small n only; reference dtw.py:831-862) ---


def condensed_index(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Closed form of the reference's distance_array_index (dtw.py:853-862):
    row-major upper-triangular position of pair (a<b) among n series."""
    a = np.minimum(a, b), np.maximum(a, b)
    lo, hi = a
    return lo * n - lo * (lo + 1) // 2 + hi - lo - 1


def to_condensed(dist_df: DataFrame, n: int) -> np.ndarray:
    """Collect the long pair table into the reference's condensed
    upper-triangular array ordering (dtw.py:865-884)."""
    pdf = dist_df.toPandas()
    out = np.full(n * (n - 1) // 2, np.inf)
    idx = condensed_index(pdf["i"].to_numpy(), pdf["j"].to_numpy(), n)
    out[idx] = pdf["d"].to_numpy()
    return out


def to_matrix(dist_df: DataFrame, n: int, only_triu: bool = False) -> np.ndarray:
    """Collect into a full n×n matrix (inf off-block, 0 diagonal unless
    only_triu — reference distances_array_to_matrix, dtw.py:831-850)."""
    pdf = dist_df.toPandas()
    m = np.full((n, n), np.inf)
    m[pdf["i"].to_numpy(), pdf["j"].to_numpy()] = pdf["d"].to_numpy()
    if not only_triu:
        m[pdf["j"].to_numpy(), pdf["i"].to_numpy()] = pdf["d"].to_numpy()
        np.fill_diagonal(m, 0.0)
    return m

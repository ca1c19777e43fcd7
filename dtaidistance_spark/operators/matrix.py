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
``corpus`` holds one ``{id: array}`` dict per source column, and has one
physical strategy, blocked broadcast pair ranges:

* the corpus is collected once, cut in id order into K blocks of at
  most ``_BLOCK_BYTES`` and each block is broadcast on its own;
* the pair space becomes tiles in the reference's ``block`` shape, one
  per block pair, so a tile reads at most two blocks;
* one guided schedule over the tiles' summed cost cuts work into
  ``(lo, hi)`` ranges of a tile's linear pair space.  A task unranks its
  pairs in closed form, so the driver never materializes O(n²) pair
  lists.  The ranges follow the reference's OMP ``guided`` loop
  (dd_dtw_openmp.c:99), weighted by estimated kernel cost
  ``len_i·len_j``: each range takes 1/(4·par) of the cost still
  remaining, so early tasks are big and the tail is fine-grained, but
  no range holds less than ``_TASK_FLOOR_S`` of estimated kernel time
  (capped at 1/par of the job), so a task's fixed cost stays small
  beside its kernel work.  The caller gives the kernel's time per
  computed cell, from which the cost unit's seconds follow.  A
  range yields sub-batches of at most ``_SUB_BATCH_PAIRS`` pairs, so a
  task's memory stays bounded whatever the pair count;
* each tile's ranges run in their own ``mapInPandas`` branch, unioned
  in schedule order.  A branch's closure references only its tile's
  blocks: PySpark ships a task every broadcast its closure references,
  and a reused worker keeps only those.

Output is the long-format ``(i, j, d)`` DataFrame — the "condensed"
matrix is this table ordered row-major; a full numpy matrix is
materialized only driver-side for small n.  :func:`distance_matrix_cross`
broadcasts the query set, streams the corpus and runs the same DTW pair
kernel, :func:`_compute_pairs`.
"""

from __future__ import annotations

import bisect
import weakref
from functools import partial, reduce
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

# Series bytes per broadcast block, and the worker-side bytes of stacked
# (n, L) corpora kept for the indexed kernel entry.  They are sized
# together: a task reads at most two blocks, whose joint stack is
# 2·_BLOCK_BYTES, so a Python worker peaks near two live blocks plus the
# cache, 4·_BLOCK_BYTES = 512 MB — what one corpus at the former 256 MB
# broadcast limit plus its cached stack took before blocks.
_BLOCK_BYTES = 128 * 1024 * 1024
_CORPUS_CACHE_BYTES = 2 * _BLOCK_BYTES

# Least estimated kernel seconds per range task: ~10x a Python task's
# fixed cost, measured at 56 ms of slot time per trivial mapInPandas task
# on a local[4] session (4-vCPU host; 200 vs 8 one-row tasks).
_TASK_FLOOR_S = 0.5

# Kernel seconds per computed DP cell.  The C DTW kernel: 29.4 us per
# pair over 23,136 band cells (504 points, window 24), single-thread on a
# 4-vCPU host.  weighted_warping_paths with an 8-knot profile: 4.7-5.6 us
# per cell at 100-300 points on the same host.
_DTW_CELL_S = 1.27e-9
_WEIGHTED_CELL_S = 5e-6


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
    a broadcast block, or a tile's join of two blocks, whose ``parts``
    are those blocks.  Only these dicts get their stacked matrix cached;
    one-shot dicts (cross batches) are stacked and dropped."""

    parts: tuple = ()

    @classmethod
    def join(cls, blocks) -> dict:
        """One block as it is; two as one dict over both."""
        if len(blocks) == 1:
            return blocks[0]
        out = cls()
        for b in blocks:
            out.update(b)
        out.parts = tuple(blocks)
        return out


# ids of the blocks a stack holds -> (weakrefs to them, (ids, V)),
# oldest first
_CORPUS_CACHE: dict = {}


def _corpus_matrix(values_by_idx: dict):
    """(sorted ids, V) stacking an equal-length 1-D corpus dict into one
    (n, L) matrix, or None for ragged or n-D corpora.

    A :class:`_SharedCorpus` is cached by the blocks it holds, so every
    task of a tile in a worker reuses one stack.  The cache holds those
    blocks weakly — the worker's broadcast registry owns them — and
    counts only the stacks against ``_CORPUS_CACHE_BYTES``: a miss first
    drops the stacks of blocks the worker has let go, then the oldest
    until the new stack fits (the newest entry always stays)."""
    shared = isinstance(values_by_idx, _SharedCorpus)
    parts = (values_by_idx.parts or (values_by_idx,)) if shared else ()
    key = tuple(map(id, parts))
    hit = _CORPUS_CACHE.get(key) if shared else None
    if hit is not None and all(r() is p for r, p in zip(hit[0], parts)):
        return hit[1]
    arrs = list(values_by_idx.values())
    if not arrs or any(a.ndim != 1 or len(a) != len(arrs[0]) for a in arrs):
        return None
    if shared:
        for k in [k for k, e in _CORPUS_CACHE.items()
                  if any(r() is None for r in e[0])]:
            del _CORPUS_CACHE[k]
        need = len(arrs) * arrs[0].nbytes
        while _CORPUS_CACHE and need + sum(
                e[1][1].nbytes for e in _CORPUS_CACHE.values()) \
                > _CORPUS_CACHE_BYTES:
            del _CORPUS_CACHE[next(iter(_CORPUS_CACHE))]
    ids = np.fromiter(values_by_idx.keys(), dtype=np.int64, count=len(arrs))
    order = np.argsort(ids)
    res = (ids[order], np.stack([arrs[k] for k in order]))
    if shared:
        _CORPUS_CACHE[key] = (tuple(map(weakref.ref, parts)), res)
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

    ``index_col`` must hold one distinct, non-null id per series; a null
    or duplicate id raises ``ValueError``.  ``order_col`` replaces
    ``index_col``: ``i`` is then the 0-based rank of ``order_col``, the
    index ``with_index(order_col=...)`` assigns, ranked on the driver
    after the corpus collect, so no index pass runs.  ``order_col`` must
    be a string or integral column: the driver's order of floating-point
    NaN differs from Spark's.

    The call runs one Spark job, the corpus collect, and broadcasts the
    corpus in blocks; the returned DataFrame computes the pairs.

    ``chunk_size`` is ignored.  It sized the groups of a chunk-pair
    shuffle strategy that the blocked broadcast replaced, and stays in
    the signature so that existing callers keep working.
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
        # yet under order_col, and null ids stay for the collect to reject
        (rb, re_), (cb, ce) = blk
        i = F.col("i")
        src = src.where(i.isNull() | ((i >= rb) & (i < re_)) |
                        ((i >= cb) & (i < ce)))
    return _pair_matrix(src, ["values"], partial(_compute_pairs, settings=s),
                        _DTW_CELL_S, s.window, blk, triu, order_col,
                        index_col)


def distance_matrix_weighted(series_df: DataFrame, window: Optional[int] = None,
                             index_col: str = "i", values_col: str = "values",
                             weights_col: str = "weights") -> DataFrame:
    """All-pairs *weighted* DTW (reference dtw_weighted.py:121-152
    distance_matrix): per-point 8-knot weight profiles reshape the local
    difference of the row series.  The per-pair kernel is
    kernels/extras.weighted_warping_paths.  Like the reference (triu
    only, matrix[i,j] uses weights[i]), the output is asymmetric in
    principle and only i<j pairs are produced.  Runs on the same pair
    executor as :func:`distance_matrix`; the weight profiles ride along
    in the broadcast blocks and count toward their bytes."""
    src = series_df.select(F.col(index_col).cast("long").alias("i"),
                           F.col(values_col).alias("values"),
                           F.col(weights_col).alias("weights"))
    return _pair_matrix(src, ["values", "weights"],
                        partial(_weighted_pairs, window=window),
                        _WEIGHTED_CELL_S, window, index_col=index_col)


def _pair_matrix(src: DataFrame, data_cols: list, kernel, cell_s: float,
                 window: Optional[int], blk=None, triu: bool = True,
                 order_col: Optional[str] = None,
                 index_col: str = "i") -> DataFrame:
    """The pair executor: ``src`` holds ``i`` or, with ``order_col``,
    that column to rank ``i`` by, plus ``data_cols``; ``kernel(ii, jj,
    *dicts)`` computes ``(i, j, d)`` for id pairs given one ``{id:
    array}`` dict per data column, at about ``cell_s`` seconds per cell
    of a DP band ``window`` wide.  Rows outside the block may stay in
    ``src``: only the block's series are broadcast.  ``index_col`` names
    the source of ``i`` in errors."""
    spark = src.sparkSession
    sc = spark.sparkContext
    ids, corpus = _collect_corpus(src, data_cols, order_col, index_col)
    if blk is not None:
        (rb, re_), (cb, ce) = blk
        ids = ids[((ids >= rb) & (ids < re_)) | ((ids >= cb) & (ids < ce))]
    keys = ids.tolist()
    lens = np.array([len(corpus[0][k]) for k in keys], dtype=np.int64)
    nbytes = np.array([sum(d[k].nbytes for d in corpus if d[k] is not None)
                       for k in keys], dtype=np.int64)
    cuts = _block_cuts(nbytes, _BLOCK_BYTES)
    tiles = _tiles(ids, lens, cuts, blk, triu)
    if not tiles:
        return spark.createDataFrame([], PAIR_SCHEMA)
    plan = _tile_schedule([t[5] for t in tiles], sc.defaultParallelism,
                          _cost_s(lens, window, cell_s))
    bcs = [track_broadcast(sc.broadcast(
        [_SharedCorpus((k, d[k]) for k in keys[lo:hi]) for d in corpus]))
        for lo, hi in zip(cuts, cuts[1:])]

    # one range per partition, IN ORDER (big ranges first): Spark launches
    # tasks by partition index as slots free, which is exactly OMP guided
    # scheduling; .repartition() would round-robin the order away.  Task
    # k reads range k from the closure: spark.range needs no Python-side
    # row conversion (measured ~0.1 s less per task than parallelize on a
    # 4-core local[4] session)
    branches = [
        spark.range(len(ranges), numPartitions=len(ranges)).mapInPandas(
            _range_task([bcs[x] for x in sorted({a, b})], ranges, rows,
                        cols, tri, kernel), schema=PAIR_SCHEMA)
        for (a, b, rows, cols, tri, _), ranges in zip(tiles, plan)]
    return reduce(DataFrame.union, branches)


def _range_task(blocks: list, ranges: list, rows: np.ndarray,
                cols: Optional[np.ndarray], triu: bool, kernel):
    """One tile's ``mapInPandas`` function: task k runs ``ranges[k]`` of
    the tile's pair space over the join of its ≤ 2 block broadcasts, the
    only ones its closure references."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dicts = [_SharedCorpus.join(d)
                 for d in zip(*(b.value for b in blocks))]
        for pdf in batches:
            for k in pdf["id"]:
                lo, hi = ranges[int(k)]
                for ii, jj in _range_pairs(lo, hi, rows, cols, triu):
                    if len(ii):
                        oi, oj, od = kernel(ii, jj, *dicts)
                        yield pd.DataFrame({"i": oi, "j": oj, "d": od})

    return compute


def _collect_corpus(src: DataFrame, data_cols: list,
                    order_col: Optional[str] = None,
                    index_col: str = "i") -> Tuple[np.ndarray, list]:
    """Collect ``i`` (or ``order_col``) + ``data_cols`` once → (sorted
    ids, one ``{id: float64 array}`` dict per column).

    The collect is one ``toArrow()``: a flat, null-free ``array<double>``
    column arrives as ONE contiguous values buffer + offsets, and each
    series becomes a numpy slice view of it — no per-row Python objects.
    Nested (n-D series, weight profiles) or null-holding columns convert
    cell by cell.

    Without ``order_col`` a null or repeated ``i`` raises ``ValueError``
    naming ``index_col``: a repeated id would silently keep one series.
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
        col = tb.column("i")
        if col.null_count:
            raise ValueError(f"index column {index_col!r} holds a null id")
        keys = col.to_numpy()
        uniq, counts = np.unique(keys, return_counts=True)
        if (counts > 1).any():
            raise ValueError(f"index column {index_col!r} holds id "
                             f"{int(uniq[counts > 1][0])} more than once")
        keys = keys.tolist()
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


def _block_cuts(nbytes: np.ndarray, cap: int) -> list:
    """Cut points ``[0, ..., n]`` splitting consecutive series into
    blocks of at most ``cap`` bytes; a series above ``cap`` is a block of
    its own."""
    cum = np.cumsum(nbytes)
    cuts = [0]
    while cuts[-1] < len(cum):
        s = cuts[-1]
        e = int(np.searchsorted(cum, (cum[s - 1] if s else 0) + cap,
                                side="right"))
        cuts.append(max(e, s + 1))
    return cuts


def _tiles(ids: np.ndarray, lens: np.ndarray, cuts: list, blk,
           triu: bool) -> list:
    """The pair space as tiles ``(a, b, rows, cols, triu, space)`` over
    the id-sorted blocks ``ids[cuts[k]:cuts[k + 1]]``, in row-major block
    order.  Without ``blk``: the triangle of each block (``cols=None``)
    and the rectangle of each block pair ``a < b``.  With it: the block
    rows of block ``a`` × the block cols of block ``b``, for ``a <= b``
    under ``triu`` (a later block holds no ``j > i`` partner of an earlier
    one), every ``(a, b)`` otherwise; only a diagonal tile keeps the
    ``i < j`` filter.  ``space`` is ``(cost_upto, n_pairs, total)``; tiles
    without pairs are dropped."""
    if blk is None:
        rsel = csel = np.ones(len(ids), dtype=bool)
    else:
        (rb, re_), (cb, ce) = blk
        rsel, csel = (ids >= rb) & (ids < re_), (ids >= cb) & (ids < ce)
    out = []
    for a in range(len(cuts) - 1):
        ra = slice(cuts[a], cuts[a + 1])
        for b in range(a if blk is None or triu else 0, len(cuts) - 1):
            if blk is None and a == b:
                rows, cols = ids[ra], None
                n_pairs = len(rows) * (len(rows) - 1) // 2
                cost_upto, total = _triu_cost_fn(lens[ra])
            else:
                cb_ = slice(cuts[b], cuts[b + 1])
                rm, cm = rsel[ra], csel[cb_]
                rows, cols = ids[ra][rm], ids[cb_][cm]
                n_pairs = len(rows) * len(cols)
                cost_upto, total = _rect_cost_fn(lens[ra][rm], lens[cb_][cm])
            if n_pairs:
                out.append((a, b, rows, cols, triu and a == b,
                            (cost_upto, n_pairs, total)))
    return out


def _cost_s(lens: np.ndarray, window: Optional[int], cell_s: float) -> float:
    """Estimated kernel seconds per cost unit ``len_i·len_j``: ``cell_s``
    times the share of an L×L matrix inside the band ``|i - j| <
    window``, at the corpus' mean length L."""
    L = max(float(lens.mean()), 1.0)
    w = L if not window else min(max(float(window), 1.0), L)
    return cell_s * (1.0 - (L - w) * (L - w + 1) / (L * L))


def _tile_schedule(spaces: list, par: int, cost_s: float) -> list:
    """Each tile's ``(lo, hi)`` ranges, in its own pair positions: ONE
    guided schedule (:func:`_guided_ranges_cost`) over the tiles' pair
    spaces laid end to end, its ranges cut where one tile ends and the
    next begins.  ``spaces`` holds ``(cost_upto, n_pairs, total)`` per
    tile and ``cost_s`` the estimated kernel seconds per cost unit; with
    one tile the schedule is that tile's own."""
    starts = [0]
    base = [0.0]
    for _, n_pairs, total in spaces:
        starts.append(starts[-1] + n_pairs)
        base.append(base[-1] + total)

    def cost_upto(p: int) -> float:
        t = min(bisect.bisect_right(starts, p) - 1, len(spaces) - 1)
        return base[t] + spaces[t][0](p - starts[t])

    out: list = [[] for _ in spaces]
    t = 0
    for lo, hi in _guided_ranges_cost(cost_upto, starts[-1], base[-1], par,
                                      cost_s):
        while lo < hi:
            while starts[t + 1] <= lo:
                t += 1
            end = min(hi, starts[t + 1])
            out[t].append((lo - starts[t], end - starts[t]))
            lo = end
    return out


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
                        par: int, cost_s: float) -> list:
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

    The first wave takes 1/(4·par) rather than 1/(2·par): a 2·par first
    wave at a 15k-series corpus made single tasks ~40 s, so any one
    slowed worker stretched the job by most of a wave.

    A range task has a fixed cost, 56 ms of slot time per trivial task
    on a local[4] session, so no range holds less than
    ``_TASK_FLOOR_S`` (~10x that) of estimated kernel time, with
    ``cost_s`` the estimated seconds per cost unit.  That floor is
    capped at ``total / par``, so a small job still fills every slot; a
    corpus with hours of kernel time keeps the plain guided schedule,
    whose ``total / (24·par)`` floor is the larger one there.

    ``cost_upto(p)`` must return the closed-form cumulative cost of the
    first ``p`` pairs of the linear pair space; boundaries are found by
    binary search on it, so nothing O(n²) is materialized.  Outputs are
    a partition of [0, n_pairs) — the kernel computes the same pairs
    whatever the boundaries, so results do not depend on them."""
    ranges = []
    lo = 0
    cost_lo = 0.0
    floor_c = max(total / n_pairs, total / (par * 24),
                  min(_TASK_FLOOR_S / cost_s, total / par))
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

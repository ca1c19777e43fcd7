"""Distributed weighted-DTW weight learning.

Plan shape: the expensive part of ``compute_weights_using_dt`` is the
per-series alignment against the prototype (one DP lattice per series).
That is a pure map — the prototype is broadcast, one Arrow
``mapInPandas`` stage emits each series' 2n-feature row plus its
must-link value lists, no shuffle.  The feature matrix that reaches the
driver is (n_series+1) x 2·len(prototype) — tiny next to the corpus —
so the tree-ensemble fit (an inherently sequential boosting loop over
<= max_clfs rounds) runs driver-side, exactly like the linkage and
k-means reduce steps elsewhere in this engine.  The learned 8-knot
profile array feeds ``kernels/extras.weighted_warping_paths``.

Kernel parity: kernels/weights.py is array-equal with the reference's
``compute_weights_using_dt`` (tests/test_weights.py), and this operator
is pinned equal to the local kernel end-to-end.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def learn_weights(series: DataFrame, prototype: np.ndarray,
                  max_clfs: Optional[int] = None, min_ig: float = 0,
                  patternlen: Optional[int] = None,
                  min_purity: float = 1.0, window: Optional[int] = None,
                  only_max: bool = False, strict_cl: bool = True,
                  label_col: str = "label", values_col: str = "values"):
    """Learn the per-prototype-index weight profile from a labeled
    corpus (label 1 = must-link to the prototype, 0 = cannot-link).

    Returns ``(weights, importances)`` like the reference's
    ``compute_weights_using_dt`` (dtw_weighted.py:155)."""
    from ..kernels.weights import (compute_weights_from_mlclvalues,
                                   dt_onewindow, dt_windows,
                                   DecisionTreeClassifier)

    proto = np.asarray(prototype, dtype=float)
    spark = series.sparkSession
    bc_proto = spark.sparkContext.broadcast(proto)
    wp_params = {"window": window} if window is not None else {}

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..kernels.weights import path_features

        p = bc_proto.value
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                feats, ml_n, ml_p = path_features(
                    p, np.asarray(getattr(r, values_col), dtype=float),
                    int(getattr(r, label_col)), wp_params)
                rows.append((int(getattr(r, label_col)),
                             feats.tolist(),
                             list(ml_n.keys()),
                             [ml_n[k] for k in ml_n.keys()],
                             list(ml_p.keys()),
                             [ml_p[k] for k in ml_p.keys()]))
            yield pd.DataFrame(rows, columns=[
                "label", "feats", "mln_idx", "mln_vals", "mlp_idx",
                "mlp_vals"])

    rows = (series.select(label_col, values_col)
            .mapInPandas(extract,
                         schema=("label int, feats array<double>, "
                                 "mln_idx array<int>, "
                                 "mln_vals array<array<double>>, "
                                 "mlp_idx array<int>, "
                                 "mlp_vals array<array<double>>"))
            .collect())

    from collections import defaultdict

    features = [[0.0] * (len(proto) * 2)]
    targets = [0]
    ml_values = defaultdict(lambda: ([], []))
    for r in rows:
        features.append(list(r["feats"]))
        targets.append(1 if r["label"] == 0 else 0)
        for i, vals in zip(r["mln_idx"], r["mln_vals"]):
            ml_values[i][0].extend(vals)
        for i, vals in zip(r["mlp_idx"], r["mlp_vals"]):
            ml_values[i][1].extend(vals)
    features = np.array(features)
    targets = np.array(targets)
    if patternlen is not None:
        cl_values, _clfs, importances = dt_windows(
            features, targets, DecisionTreeClassifier, patternlen,
            max_clfs, min_ig, min_purity)
    else:
        cl_values, _clfs, importances = dt_onewindow(
            features, targets, DecisionTreeClassifier, max_clfs, min_ig,
            min_purity)
    weights = compute_weights_from_mlclvalues(
        proto, ml_values, cl_values, only_max=only_max,
        strict_cl=strict_cl)
    return weights, importances


def path_features_long(members: DataFrame, prototype,
                       member_col: str = "i",
                       values_col: str = "values") -> DataFrame:
    """Long-format view of the weight-learning feature stage (the
    distributed half of ``compute_weights_using_dt``, reference
    dtw_weighted.py:198-230): one row per (member series, prototype
    index) with the mean negative / mean positive matched deviation
    along the member's optimal warping path to the prototype —
    ``path_features``' interleaved 2n feature vector unrolled.

    Plan: broadcast prototype + one Arrow ``mapInPandas`` stage, no
    shuffle — each member series is one lattice, embarrassingly
    parallel at corpus scale.  Value-oracled at the driver: the DuckDB
    twin replays every path with the shared lattice+walk CTE and
    buckets the signed deviations per prototype index
    (ORACLES["weights_features"])."""
    proto = np.asarray(prototype, dtype=float)
    spark = members.sparkSession
    bc_proto = spark.sparkContext.broadcast(proto)

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..kernels.weights import path_features

        p = bc_proto.value
        n = len(p)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                feats, _, _ = path_features(
                    p, np.asarray(getattr(r, values_col), dtype=float), 0)
                for idx in range(n):
                    rows.append((int(getattr(r, member_col)), idx,
                                 float(feats[idx * 2]),
                                 float(feats[idx * 2 + 1])))
            yield pd.DataFrame(rows, columns=[
                "member", "idx", "feat_neg", "feat_pos"])

    return members.select(member_col, values_col).mapInPandas(
        extract,
        schema="member long, idx int, feat_neg double, feat_pos double")


def weights_profile_df(spark, weights: np.ndarray) -> DataFrame:
    """Long-format view of a learned weight profile (one row per
    prototype index; inf knots as NULL for a stable schema)."""
    rows = []
    for idx, w in enumerate(weights):
        rows.append((idx, *[None if np.isinf(x) else round(float(x), 9)
                            for x in w]))
    return spark.createDataFrame(
        rows, "idx int, xn3 double, xn2 double, xn1 double, xn0 double, "
              "xp0 double, xp1 double, xp2 double, xp3 double")

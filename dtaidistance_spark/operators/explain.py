"""Distributed warping-path explanation (Dynamic Subsequence Warping)
— all-pairs ``ExplainedPair`` segments as a long-format DataFrame.

Plan shape (the same one every DP-pair operator in this engine uses):
the smaller side of the triangular self-join is broadcast, pairs are
generated JVM-side with the ``i < j`` theta condition, and one Arrow
``mapInPandas`` stage runs the per-pair kernel
(kernels/explain.py::ExplainedPair).  No shuffle: broadcast + map.  At
corpus scale the pair set is bounded the same way the distance-matrix
operator bounds it (block restriction / top-n selection upstream);
each task holds only its Arrow batch of pairs.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.dtw import DtwSettings

EXPLAIN_SCHEMA = ("i long, j long, seg int, s_idx_p int, e_idx_p int, "
                  "s_idx int, e_idx int, s_idx_y int, e_idx_y int, "
                  "angle double, shift int, elasticity int, "
                  "dist_approx double")


def explain_pairs(series: DataFrame, delta_rel: float = 1.0,
                  delta_abs: float = 0.1,
                  settings: Optional[DtwSettings] = None,
                  approx_type: str = "max_factor_and_diff",
                  split_strategy: str = "spatialdist",
                  id_col: str = "i",
                  values_col: str = "values") -> DataFrame:
    """Explain the warping path of every series pair (i < j): one row
    per DSW segment with its position in both series, angle, shift,
    elasticity, and the segment's share of the approximated distance.
    ``approx_type`` selects the tolerance criterion
    and ``split_strategy`` the split-point selection (kernels/explain.py
    module docstring lists the supported sets)."""
    s = settings or DtwSettings()
    a = series.select(F.col(id_col).alias("i"),
                      F.col(values_col).alias("values"))
    b = series.select(F.col(id_col).alias("j"),
                      F.col(values_col).alias("values_j"))
    pairs = a.join(F.broadcast(b), F.col("i") < F.col("j"))

    def compute(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..kernels.explain import ExplainedPair

        cols = ["i", "j", "seg", "s_idx_p", "e_idx_p", "s_idx", "e_idx",
                "s_idx_y", "e_idx_y", "angle", "shift", "elasticity",
                "dist_approx"]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ep = ExplainedPair(
                    np.asarray(r.values, dtype=np.float64),
                    np.asarray(r.values_j, dtype=np.float64),
                    delta_rel=delta_rel, delta_abs=delta_abs,
                    approx_type=approx_type,
                    split_strategy=split_strategy, settings=s)
                rows.extend((int(r.i), int(r.j)) + row
                            for row in ep.segment_rows())
            yield pd.DataFrame(rows, columns=cols)

    return pairs.mapInPandas(compute, schema=EXPLAIN_SCHEMA)

"""Per-group isotonic regression via grouped-map ``applyInPandas``.

The calibration-curve operator: fit a monotone (non-decreasing) response
y = f(x) per group with the pool-adjacent-violators algorithm (PAV) —
score calibration, monotone dose/response fitting, and price-elasticity
smoothing all reduce to it. PAV is inherently sequential (each merge
depends on the previous), so it is the textbook case for the grouped-map
Pandas API rather than Column expressions.

Scale contract: PAV input is PRE-AGGREGATED to one point per (group, x)
with a weight — that first aggregation is distributed, map-side-combined,
and reduces arbitrary row counts to (groups × distinct x) points, so the
Python stage's per-group batch is bounded by the x-domain cardinality
(e.g. 11 discount levels), never by row count. Each group fits
independently — one shuffle on the group key, embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


def isotonic_fit_per_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted PAV per group over pre-aggregated (x, y, w) points.

    Returns group_col, x, y, w, y_fit — y_fit is the least-squares
    monotone fit (non-decreasing in x), preserving each group's weighted
    mean. Deterministic: PAV has a unique solution.
    """
    import numpy as np
    import pandas as pd

    out_schema = StructType(
        [
            df.schema[group_col],
            StructField("x", DoubleType(), True),
            StructField("y", DoubleType(), True),
            StructField("w", DoubleType(), True),
            StructField("y_fit", DoubleType(), True),
        ]
    )

    gcol, xcol, ycol, wcol = group_col, x_col, y_col, weight_col

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(xcol, kind="mergesort")
        x = pdf[xcol].to_numpy(dtype=float)
        y = pdf[ycol].to_numpy(dtype=float)
        w = (
            pdf[wcol].to_numpy(dtype=float)
            if wcol
            else np.ones_like(y)
        )
        # PAV: maintain a stack of blocks (mean, weight, count)
        means, weights, counts = [], [], []
        for yi, wi in zip(y, w):
            means.append(yi)
            weights.append(wi)
            counts.append(1)
            while len(means) > 1 and means[-2] > means[-1]:
                m2, w2, c2 = means.pop(), weights.pop(), counts.pop()
                m1, w1, c1 = means.pop(), weights.pop(), counts.pop()
                wt = w1 + w2
                means.append((m1 * w1 + m2 * w2) / wt)
                weights.append(wt)
                counts.append(c1 + c2)
        fit_vals = np.concatenate(
            [np.full(c, m) for m, c in zip(means, counts)]
        )
        return pd.DataFrame(
            {
                gcol: pdf[gcol].to_numpy(),
                "x": x,
                "y": y,
                "w": w,
                "y_fit": fit_vals,
            }
        )

    return df.groupBy(gcol).applyInPandas(fit, out_schema)

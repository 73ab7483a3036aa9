"""Model-based quality filtering: logistic regression, Spark-first.

Heuristic quality scores (``operators.text.quality_score``) are the
first rung of pretraining-corpus curation; the second is a *trained*
filter (fastText-style classifiers in public pipelines like CCNet /
RedPajama). The Spark-shaped version of that stage:

- **Training is bounded**: a deterministic, id-ordered sample of at
  most ``train_cap`` rows is collected and fit driver-side (the same
  ``train_cap`` discipline as ``train_ivf_centroids`` and the langid
  trainer — the model artifact is O(n_features), the training scan is
  one capped sort+limit, never the corpus).
- **Scoring is a literal expression**: the learned weights embed into
  a ``sigmoid(w.x + b)`` Catalyst expression — a pure narrow map in
  whole-stage codegen, no UDF, no broadcast, no shuffle. At 100 TB
  the scoring pass costs exactly one scan.
- **Deterministic end-to-end**: fixed iteration count, float64
  batch gradient descent (no stochasticity), id-ordered sample,
  arithmetic that no CPU feature changes — identical weights and
  scores on every run, partitioning and host, so the output is
  golden-snapshot safe.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def logreg_train(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    order_col: str | Column,
    train_cap: int = 8192,
    n_iter: int = 300,
    lr: float = 1.0,
    l2: float = 1e-3,
) -> list[float]:
    """Fit logistic regression on a bounded deterministic sample.

    Returns ``[bias, w1, ..., wk]``. Full-batch gradient descent with
    L2 regularization (never on the bias), fixed ``n_iter`` — no RNG,
    no early stopping, so the artifact is reproducible bit-for-bit.
    """
    feats = list(feature_cols)
    # project BEFORE the sort: spelled select-after-orderBy, the
    # feature expressions land in TakeOrderedAndProject's output
    # projection, which Spark applies on the DRIVER single-threaded
    # over every collected row — measured 10.5 s vs ~1 s for this
    # spelling on q_quality_model at sf0.1 (r12, guide §5 driver).
    # Projecting first keeps the (possibly expensive) feature
    # expressions in the distributed scan stage; the take's own
    # projection is then a trivial column selection. Same rows, same
    # order, bit-identical weights.
    order = order_col if isinstance(order_col, Column) else F.col(order_col)
    sample = (
        df.select(order.alias("__ord"), label_col, *feats)
        .orderBy("__ord")
        .limit(train_cap)
        .select(label_col, *feats)
        .collect()
    )
    if not sample:
        raise ValueError("cannot train on an empty input")
    cols = [np.array([float(r[c]) for r in sample]) for c in feats]
    y = np.array([float(r[label_col]) for r in sample])
    n = len(y)
    rows = np.empty((len(feats) + 1, n))  # the residual g, then x_j * g
    w = [0.0] * len(feats)
    b = 0.0
    # Only arithmetic whose result does not depend on the CPU, so the
    # weights are the same bits on every host: elementwise ufuncs (each
    # result correctly rounded), ``_exp`` built from them, and row sums
    # along the contiguous axis, which numpy adds in a pairwise order
    # fixed by the row length. A BLAS ``@`` and numpy's SIMD ``exp``
    # pick their kernels by CPU feature, and their last bit can differ
    # between hosts.
    for _ in range(n_iter):
        # bias + w1*x1 + ..., the order logreg_score's expression folds
        z = np.full(n, b)
        for x, wi in zip(cols, w):
            z += wi * x
        np.divide(1.0, 1.0 + _exp(-z), out=rows[0])
        rows[0] -= y
        for x, row in zip(cols, rows[1:]):
            np.multiply(x, rows[0], out=row)
        s0, *s = rows.sum(axis=1).tolist()
        w = [wi - lr * (sj / n + l2 * wi) for sj, wi in zip(s, w)]
        b -= lr * (s0 / n)
    return [b] + w


# e**x from correctly rounded ufuncs only: x = k*ln2 + r with fdlibm's
# two-part ln2 (k * _LN2_HI is exact), then e**r by its Taylor series
# to degree 13, whose truncation error on |r| <= ln2/2 is below 1e-17.
_INV_LN2 = 1.4426950408889634
_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_EXP_TAYLOR = [1.0 / math.factorial(i) for i in range(14)]


def _exp(x: np.ndarray) -> np.ndarray:
    """Elementwise ``e**x`` within about an ulp of libm, the same bits
    on every CPU; inf above 709.8, 0 below -745.2, NaN for NaN."""
    with np.errstate(over="ignore", invalid="ignore"):
        x = np.clip(x, -746.0, 710.0)  # keeps k an int32
        k = np.rint(x * _INV_LN2)
        r = x - k * _LN2_HI
        r -= k * _LN2_LO
        p = np.full_like(r, _EXP_TAYLOR[-1])
        for c in _EXP_TAYLOR[-2::-1]:
            p *= r
            p += c
        return np.ldexp(p, k.astype(np.int32))


def logreg_score(
    df: DataFrame, feature_cols: Sequence[str], weights: Sequence[float]
) -> Column:
    """``sigmoid(bias + w.x)`` as a literal Catalyst expression."""
    bias, *ws = weights
    z = F.lit(bias)
    for c, wi in zip(feature_cols, ws):
        z = z + F.lit(wi) * F.col(c)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

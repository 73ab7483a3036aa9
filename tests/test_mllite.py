"""Logistic-regression quality filter: learnability, determinism."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from flink_framework_spark.operators.mllite import (
    _exp,
    logreg_score,
    logreg_train,
)
from flink_framework_spark.registry import all_queries


def _toy(spark):
    # two clouds separated along f1; f2 is noise-ish but consistent
    rows = []
    for i in range(40):
        rows.append((i, 1.0, 0.8 + (i % 5) * 0.03, 0.2 + (i % 3) * 0.1))
        rows.append((100 + i, 0.0, 0.1 + (i % 5) * 0.03, 0.25 + (i % 3) * 0.1))
    return spark.createDataFrame(
        rows, "id long, label double, f1 double, f2 double"
    )


def test_logreg_separates_planted_clouds(spark):
    df = _toy(spark)
    w = logreg_train(df, ["f1", "f2"], "label", "id")
    scored = df.withColumn("s", logreg_score(df, ["f1", "f2"], w))
    wrong = scored.filter(
        ((F.col("s") >= 0.5) & (F.col("label") == 0.0))
        | ((F.col("s") < 0.5) & (F.col("label") == 1.0))
    ).count()
    assert wrong == 0


def test_logreg_weights_deterministic(spark):
    df = _toy(spark)
    w1 = logreg_train(df, ["f1", "f2"], "label", "id")
    w2 = logreg_train(df, ["f1", "f2"], "label", "id")
    assert w1 == w2  # bit-identical floats


def test_training_exp_tracks_libm_and_saturates():
    """The training's CPU-independent ``e**x`` stays within about an
    ulp of libm's, and saturates like it: inf past the double range,
    0 below the smallest subnormal, NaN for NaN."""
    xs = np.linspace(-708.0, 709.0, 100_001)  # normal results
    want = np.array([math.exp(v) for v in xs.tolist()])
    assert np.max(np.abs(_exp(xs) - want) / want) < 3e-16
    edge = _exp(np.array([0.0, 710.0, np.inf, -746.0, -np.inf, np.nan]))
    assert edge[:5].tolist() == [1.0, math.inf, math.inf, 0.0, 0.0]
    assert math.isnan(edge[5])


def test_train_cap_bounds_sample(spark):
    # capped training must use the id-ordered prefix: moving the
    # decision information outside the cap changes nothing
    df = _toy(spark)
    w_full = logreg_train(df, ["f1", "f2"], "label", "id", train_cap=8192)
    w_cap = logreg_train(df, ["f1", "f2"], "label", "id", train_cap=20)
    assert w_full != w_cap


def test_quality_query_perfectly_separates_fixture(spark, sf_dir):
    df = all_queries()["q_quality_model"].fn(spark, sf_dir).toPandas()
    assert ((df["score"] >= 0.5).astype(int) == df["label"]).all()
    assert (df["keep"] == (df["label"] == 1)).all()

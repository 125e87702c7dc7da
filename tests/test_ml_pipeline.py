"""FlinkML-parity layer tests (§2.13): each adapter fit/transform/predict
on small hand-checked data."""

from __future__ import annotations

import math

import pytest

from flink_1_3_2_hopsworks_spark.ml import (
    ALS,
    KNN,
    MinMaxScaler,
    MultipleLinearRegression,
    PolynomialFeatures,
    Splitter,
    StandardScaler,
    SVM,
)


def _feature_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(rows)],
        "id long, features array<double>",
    )


def test_standard_scaler_zero_mean_unit_std(spark):
    df = _feature_df(spark, [[1.0], [2.0], [3.0], [4.0]])
    out = StandardScaler().fit(df).transform(df).collect()
    vals = sorted(r["features"][0] for r in out)
    mean = sum(vals) / len(vals)
    std = math.sqrt(sum((v - mean) ** 2 for v in vals) / (len(vals) - 1))
    assert abs(mean) < 1e-9 and abs(std - 1.0) < 1e-9


def test_minmax_scaler_range(spark):
    df = _feature_df(spark, [[10.0, 0.0], [20.0, 5.0], [30.0, 10.0]])
    out = MinMaxScaler().fit(df).transform(df).collect()
    cols = list(zip(*[r["features"] for r in out]))
    for col in cols:
        assert min(col) == 0.0 and max(col) == 1.0


def test_polynomial_features_dimensions(spark):
    df = _feature_df(spark, [[2.0, 3.0]])
    out = PolynomialFeatures(degree=2).transform(df).collect()[0]["features"]
    # (x, x², xy, y, y²) — 5 terms for 2 features, degree 2.
    assert len(out) == 5
    assert set(round(v, 6) for v in out) == {2.0, 4.0, 6.0, 3.0, 9.0}


def test_linear_regression_recovers_plane(spark):
    rows = [(float(2 * a + 3 * b + 1), [float(a), float(b)]) for a in range(6) for b in range(6)]
    df = spark.createDataFrame(rows, "label double, features array<double>")
    model = MultipleLinearRegression().fit(df)
    assert abs(model.weights[0] - 2.0) < 1e-4
    assert abs(model.weights[1] - 3.0) < 1e-4
    assert abs(model.intercept - 1.0) < 1e-4


def test_svm_separates_linearly_separable(spark):
    rows = [(1.0, [float(x), float(x + 3)]) for x in range(8)] + [
        (-1.0, [float(x), float(x - 3)]) for x in range(8)
    ]
    df = spark.createDataFrame(rows, "label double, features array<double>")
    model = SVM(reg_param=0.01).fit(df)
    preds = model.predict(df).collect()
    assert all(r["prediction"] == r["label"] for r in preds)


def test_knn_exact_finds_true_neighbors(spark):
    train = _feature_df(spark, [[0.0], [1.0], [10.0], [11.0]])
    query = _feature_df(spark, [[0.4]])
    out = KNN(k=2, exact=True).fit(train).predict(query).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [0, 1]


def test_knn_lsh_returns_k_ranked(spark):
    train = _feature_df(spark, [[float(i)] for i in range(20)])
    query = _feature_df(spark, [[5.2]])
    out = KNN(k=3, exact=False, bucket_length=4.0).fit(train).predict(query).collect()
    assert len(out) == 3
    assert out[0]["neighbor_id"] == 5  # nearest is exact even under LSH here


def test_als_ranks_seen_preferences(spark):
    # Two user blocks with disjoint tastes.
    ratings = [(u, i, 5.0) for u in (0, 1) for i in (0, 1)] + [
        (u, i, 1.0) for u in (0, 1) for i in (2, 3)
    ] + [(u, i, 5.0) for u in (2, 3) for i in (2, 3)] + [
        (u, i, 1.0) for u in (2, 3) for i in (0, 1)
    ]
    df = spark.createDataFrame(ratings, "user int, item int, rating double")
    model = ALS(rank=4, iterations=10).fit(df)
    preds = {
        (r["user"], r["item"]): r["prediction"]
        for r in model.predict(df).collect()
    }
    assert preds[(0, 0)] > preds[(0, 2)]  # user 0 prefers item block {0,1}
    assert preds[(2, 2)] > preds[(2, 0)]


def test_splitter_partitions_all_rows(spark):
    df = _feature_df(spark, [[float(i)] for i in range(100)])
    train, test = Splitter.random_split(df, 0.75, seed=7)
    assert train.count() + test.count() == 100
    assert train.join(test, "id", "left_semi").count() == 0


def test_every_wrapper_predicts_after_observe(spark):
    """A ``Dataset.observe`` earlier in the session (``iterate`` runs one
    per superstep with ``changed_col``) must not break any wrapper's
    ``transform``/``predict``: a fitted model that keeps a reference to
    the session can no longer be serialized into the task closure."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation("obs")
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == 10

    feats = _feature_df(spark, [[float(x), float(x % 3)] for x in range(8)])
    labelled = spark.createDataFrame(
        [(1.0 if x > 3 else -1.0, [float(x), float(x % 3)]) for x in range(8)],
        "label double, features array<double>",
    )
    ratings = spark.createDataFrame(
        [(u, i, float(1 + (u + i) % 5)) for u in range(3) for i in range(3)],
        "user int, item int, rating double",
    )
    outputs = {
        "StandardScaler": StandardScaler().fit(feats).transform(feats),
        "MinMaxScaler": MinMaxScaler().fit(feats).transform(feats),
        "PolynomialFeatures": PolynomialFeatures().fit(feats).transform(feats),
        "MultipleLinearRegression": MultipleLinearRegression()
        .fit(labelled)
        .predict(labelled),
        "SVM": SVM().fit(labelled).predict(labelled),
        "KNN(exact)": KNN(k=2, exact=True).fit(feats).predict(feats),
        "KNN(lsh)": KNN(k=2).fit(feats).predict(feats),
        "ALS.predict": ALS(rank=2, iterations=2).fit(ratings).predict(ratings),
        "ALS.recommend": ALS(rank=2, iterations=2)
        .fit(ratings)
        .recommend_for_users(2),
    }
    for name, out in outputs.items():
        assert out.collect(), name

"""FlinkML-parity ML surface (§2.13) — FlinkML API shapes over pyspark.ml.

Reference parity: flink-ml pipeline traits (pipeline/{Estimator, Predictor,
Transformer}.scala — ``fit`` / ``transform`` / ``predict``) and algorithms:
preprocessing/{StandardScaler, MinMaxScaler, PolynomialFeatures, Splitter},
regression/MultipleLinearRegression.scala (SGD), classification/SVM.scala
(CoCoA), nn/KNN.scala, recommendation/ALS.scala.

Spark-first mapping: each class is a THIN adapter over the corresponding
``pyspark.ml`` stage (StandardScaler, MinMaxScaler, PolynomialExpansion,
LinearRegression, LinearSVC, BucketedRandomProjectionLSH, ALS) — Spark's
implementations are distributed, numerically mature, and strictly stronger
than the reference's (e.g. L-BFGS/OWL-QN vs plain SGD; blocked ALS with
implicit feedback). The adapters keep FlinkML's surface: DataFrames with an
``array<double>`` features column (not pyspark.ml Vectors — conversion via
``array_to_vector``/``vector_to_array`` is internal), ``fit`` returning
self, ``transform``/``predict`` returning DataFrames.

StochasticOutlierSelection has no pyspark.ml counterpart and is implemented
from the paper in ``ml/outlier.py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame

_VEC = "_vec"


def _with_vec(df: DataFrame, features_col: str) -> DataFrame:
    return df.withColumn(_VEC, array_to_vector(F.col(features_col)))


def _back_to_array(df: DataFrame, out_vec: str, features_col: str) -> DataFrame:
    return df.withColumn(
        features_col, vector_to_array(F.col(out_vec)).cast("array<double>")
    ).drop(_VEC, out_vec)


class StandardScaler:
    """Z-score scaling (reference preprocessing/StandardScaler.scala:
    fit learns mean/std, transform applies (x−μ)·(σ_target/σ)+μ_target —
    exposed here in its common μ_target=0, σ_target=1 form)."""

    def __init__(self, with_mean: bool = True, with_std: bool = True):
        self._with_mean = with_mean
        self._with_std = with_std
        self._model = None
        self._col = None

    def fit(self, df: DataFrame, features_col: str = "features") -> "StandardScaler":
        from pyspark.ml.feature import StandardScaler as SparkScaler

        self._col = features_col
        self._model = SparkScaler(
            inputCol=_VEC,
            outputCol="_scaled",
            withMean=self._with_mean,
            withStd=self._with_std,
        ).fit(_with_vec(df, features_col))
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        out = self._model.transform(_with_vec(df, self._col))
        return _back_to_array(out, "_scaled", self._col)


class MinMaxScaler:
    """Range scaling to [min, max] (reference preprocessing/
    MinMaxScaler.scala)."""

    def __init__(self, min: float = 0.0, max: float = 1.0):
        self._min = min
        self._max = max
        self._model = None
        self._col = None

    def fit(self, df: DataFrame, features_col: str = "features") -> "MinMaxScaler":
        from pyspark.ml.feature import MinMaxScaler as SparkMinMax

        self._col = features_col
        self._model = SparkMinMax(
            inputCol=_VEC, outputCol="_scaled", min=self._min, max=self._max
        ).fit(_with_vec(df, features_col))
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        out = self._model.transform(_with_vec(df, self._col))
        return _back_to_array(out, "_scaled", self._col)


class PolynomialFeatures:
    """Polynomial feature expansion up to ``degree`` (reference
    preprocessing/PolynomialFeatures.scala). Stateless transformer."""

    def __init__(self, degree: int = 2):
        self._degree = degree

    def fit(self, df: DataFrame, features_col: str = "features") -> "PolynomialFeatures":
        return self

    def transform(self, df: DataFrame, features_col: str = "features") -> DataFrame:
        from pyspark.ml.feature import PolynomialExpansion

        expanded = PolynomialExpansion(
            degree=self._degree, inputCol=_VEC, outputCol="_poly"
        ).transform(_with_vec(df, features_col))
        return _back_to_array(expanded, "_poly", features_col)


class MultipleLinearRegression:
    """Linear regression (reference regression/
    MultipleLinearRegression.scala — SGD there; Spark solves via
    WLS/L-BFGS, a strict upgrade). ``label_col`` is the target."""

    def __init__(self, reg_param: float = 0.0, iterations: int = 100):
        self._reg = reg_param
        self._iters = iterations
        self._model = None
        self._col = None

    def fit(
        self,
        df: DataFrame,
        features_col: str = "features",
        label_col: str = "label",
    ) -> "MultipleLinearRegression":
        from pyspark.ml.regression import LinearRegression

        self._col = features_col
        self._model = LinearRegression(
            featuresCol=_VEC,
            labelCol=label_col,
            regParam=self._reg,
            maxIter=self._iters,
        ).fit(_with_vec(df, features_col))
        return self

    @property
    def weights(self) -> list[float]:
        return list(self._model.coefficients)

    @property
    def intercept(self) -> float:
        return float(self._model.intercept)

    def predict(self, df: DataFrame) -> DataFrame:
        out = self._model.transform(_with_vec(df, self._col))
        return out.drop(_VEC)


class SVM:
    """Linear SVM classifier (reference classification/SVM.scala — CoCoA
    solver there; Spark's LinearSVC uses OWL-QN on hinge loss). Labels are
    ±1 in the reference; Spark wants {0,1} — adapted internally.

    The fitted model is kept without its training summary (``copy()``
    drops it). The summary holds the training ``SparkSession``, and once
    that session has run a ``Dataset.observe`` (as ``iterate`` with
    ``changed_col`` does) it no longer serializes into the ``transform``
    closure: ``predict`` would fail with ``NotSerializableException:
    ObservationManager``. No caller reads the summary."""

    def __init__(self, reg_param: float = 0.01, iterations: int = 100):
        self._reg = reg_param
        self._iters = iterations
        self._model = None
        self._col = None

    def fit(
        self, df: DataFrame, features_col: str = "features", label_col: str = "label"
    ) -> "SVM":
        from pyspark.ml.classification import LinearSVC

        self._col = features_col
        zero_one = df.withColumn(
            "_lbl", F.when(F.col(label_col) > 0, 1.0).otherwise(0.0)
        )
        self._model = LinearSVC(
            featuresCol=_VEC,
            labelCol="_lbl",
            regParam=self._reg,
            maxIter=self._iters,
        ).fit(_with_vec(zero_one, features_col)).copy()
        return self

    def predict(self, df: DataFrame) -> DataFrame:
        out = self._model.transform(_with_vec(df, self._col))
        return out.withColumn(
            "prediction",
            F.when(F.col("prediction") > 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
        ).drop(_VEC, "rawPrediction")


class KNN:
    """k-nearest-neighbors (reference nn/KNN.scala — exact block-nested
    KNN there). Spark-scale path: BucketedRandomProjectionLSH approximate
    neighbors; ``exact=True`` does the quadratic cross-join (small data)."""

    def __init__(self, k: int = 5, exact: bool = False, bucket_length: float = 2.0):
        self._k = k
        self._exact = exact
        self._bucket_length = bucket_length
        self._train = None
        self._col = None
        self._model = None

    def fit(self, df: DataFrame, features_col: str = "features", id_col: str = "id") -> "KNN":
        self._col = features_col
        self._id = id_col
        self._train = _with_vec(df, features_col).cache()
        if not self._exact:
            from pyspark.ml.feature import BucketedRandomProjectionLSH

            self._model = BucketedRandomProjectionLSH(
                inputCol=_VEC,
                outputCol="_hashes",
                bucketLength=self._bucket_length,
                numHashTables=4,
            ).fit(self._train)
        return self

    def predict(self, df: DataFrame) -> DataFrame:
        """For each query row: ids + distances of the k nearest training
        rows, as (query id, neighbor id, distance) ranked rows."""
        from pyspark.sql import Window

        queries = _with_vec(df, self._col)
        if self._exact:
            from pyspark.ml.functions import vector_to_array as v2a

            q = queries.select(
                F.col(self._id).alias("query_id"),
                F.col(self._col).alias("_qf"),
            )
            t = self._train.select(
                F.col(self._id).alias("neighbor_id"),
                F.col(self._col).alias("_tf"),
            )
            dist = F.sqrt(
                F.aggregate(
                    F.zip_with("_qf", "_tf", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            pairs = q.crossJoin(t).select(
                "query_id", "neighbor_id", dist.alias("distance")
            )
        else:
            joined = self._model.approxSimilarityJoin(
                queries, self._train, float("inf"), distCol="distance"
            )
            pairs = joined.select(
                F.col(f"datasetA.{self._id}").alias("query_id"),
                F.col(f"datasetB.{self._id}").alias("neighbor_id"),
                "distance",
            )
        w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self._k)
            .select("query_id", "neighbor_id", F.round("distance", 6).alias("distance"), "rank")
        )


class ALS:
    """Matrix-factorization recommender (reference recommendation/
    ALS.scala). Columns: (user, item, rating)."""

    def __init__(self, rank: int = 10, iterations: int = 10, reg: float = 0.1, seed: int = 42):
        self._rank = rank
        self._iters = iterations
        self._reg = reg
        self._seed = seed
        self._model = None

    def fit(
        self,
        df: DataFrame,
        user_col: str = "user",
        item_col: str = "item",
        rating_col: str = "rating",
    ) -> "ALS":
        from pyspark.ml.recommendation import ALS as SparkALS

        self._cols = (user_col, item_col)
        self._model = SparkALS(
            rank=self._rank,
            maxIter=self._iters,
            regParam=self._reg,
            seed=self._seed,
            userCol=user_col,
            itemCol=item_col,
            ratingCol=rating_col,
            coldStartStrategy="drop",
        ).fit(df)
        return self

    def predict(self, df: DataFrame) -> DataFrame:
        return self._model.transform(df)

    def recommend_for_users(self, n: int) -> DataFrame:
        return self._model.recommendForAllUsers(n)


class Splitter:
    """Train/test splitting (reference preprocessing/Splitter.scala)."""

    @staticmethod
    def random_split(
        df: DataFrame, fraction: float, seed: int = 42
    ) -> tuple[DataFrame, DataFrame]:
        train, test = df.randomSplit([fraction, 1.0 - fraction], seed=seed)
        return train, test

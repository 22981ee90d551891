"""SQL-invocable ML functions (reference: presto-ml
MLFunctions.java:60 classify / LearnClassifierAggregation.java:40
learn_classifier; product-test goldens ml_functions/prediction).

Presto's learn_classifier trains a libsvm SVM and returns an opaque
Classifier model; the engine's documented analogue (operators/ml.py,
ml_learn_classify) is a nearest-centroid model — here exposed through
SQL as:

- ``learn_classifier(label, features)`` — a grouped-aggregate pandas
  UDF (Series, Series -> scalar; Arrow-batched) returning
  the model as ``map<label, centroid array>``.
- ``classify(features, model)`` — scalar pandas UDF: argmin Euclidean
  distance over the model's centroids; ties break on label order.
  Returns VARCHAR (Presto returns the label type; callers CAST when
  they need bigint).
- ``features(...)`` — rewritten by the dialect to
  ``array(CAST(.. AS DOUBLE), ...)`` (MLFeaturesFunctions.java builds
  the dense 0..n-1 feature vector the same way).

Scale note: the model is one map per group — fine for classifier
models (k centroids x dims); the heavy lifting (per-row distance) runs
vectorized in Arrow batches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, MapType, StringType

__all__ = ["register_ml_sql"]


def _learn_classifier_impl(labels: pd.Series, feats: pd.Series) -> dict:
    # the Series -> scalar type hints make this a grouped-aggregate
    # pandas UDF (pandas_udf resolves them from this module's globals)
    import numpy as np

    sums: dict[str, "np.ndarray"] = {}
    counts: dict[str, int] = {}
    for lab, f in zip(labels, feats):
        if lab is None or f is None:
            continue
        k = str(lab)
        v = np.asarray(f, dtype=float)
        if k in sums:
            sums[k] += v
            counts[k] += 1
        else:
            sums[k] = v.copy()
            counts[k] = 1
    return {k: [float(x) for x in sums[k] / counts[k]] for k in sums}


def _classify_impl(feats, models):
    import numpy as np

    out = []
    for f, m in zip(feats, models):
        if f is None or m is None or not len(m):
            out.append(None)
            continue
        v = np.asarray(f, dtype=float)
        best = min(
            sorted(m.items()),
            key=lambda kv: float(np.sum((np.asarray(kv[1], dtype=float) - v) ** 2)),
        )
        out.append(best[0])
    return pd.Series(out, dtype=object)


def register_ml_sql(spark: SparkSession) -> None:
    model_type = MapType(StringType(), ArrayType(DoubleType()))

    learn = F.pandas_udf(_learn_classifier_impl, model_type)
    spark.udf.register("learn_classifier", learn)

    classify = F.pandas_udf(_classify_impl, StringType())
    spark.udf.register("classify", classify)

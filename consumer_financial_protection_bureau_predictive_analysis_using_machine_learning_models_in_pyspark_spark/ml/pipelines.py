"""Parameterized ML pipelines (SURVEY §2.9 M1-M21).

The reference ships four near-identical scripts (timely_LR.py, timely_SVM.py,
decision_tree_final_class_8.py, random_forest_final_class_8.py) differing
only in estimator and grid.  The engine has ONE pipeline builder per task,
parameterized by model — the same indexers/assembler/evaluator code paths
for every estimator (the reference's copy-paste drift, e.g. the "Random
Forest" comment in the DT script at decision_tree_final_class_8.py:294, is
exactly what this kills).

Divergences from the reference, on purpose (SURVEY §2.12):
- ``stringOrderType`` is pinned ('frequencyDesc') and nothing maps indices
  back to label names positionally (the reference's class_names table at
  decision_tree_final_class_8.py:360-369 silently mislabels classes);
- ``RandomParamGridBuilder`` (timely_LR.py:114 — Databricks-only, would
  ImportError in OSS PySpark) is replaced by a seeded random sample of the
  full grid;
- training frames are cached POST-sampling (the reference persists the
  pre-balance frame at decision_tree_final_class_8.py:107 and then iterates
  the balanced one).
"""

from __future__ import annotations

import random

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    DecisionTreeClassifier,
    GBTClassifier,
    LinearSVC,
    LogisticRegression,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder, TrainValidationSplit
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Estimator seeds are pinned explicitly: PySpark's default seed is
# hash(class name), and Python salts str hashes PER PROCESS — an unpinned
# RandomForest (whose fit draws per-node feature subsets from the seed)
# trains a different forest in every interpreter.  The reference scripts
# never set model seeds; pinning them is a deliberate divergence so the
# golden quality metrics (tests/test_golden_ml.py) are reproducible.
BINARY_MODELS = {
    "lr": lambda: LogisticRegression(featuresCol="features", labelCol="label"),
    "svm": lambda: LinearSVC(
        featuresCol="features", labelCol="label", maxIter=10, regParam=0.1
    ),
    "gbt": lambda: GBTClassifier(featuresCol="features", labelCol="label", seed=42),
}

MULTICLASS_MODELS = {
    "dt": lambda: DecisionTreeClassifier(
        featuresCol="features", labelCol="label", seed=42
    ),
    "rf": lambda: RandomForestClassifier(
        featuresCol="features", labelCol="label", seed=42
    ),
}


# the feature columns of the two tasks
TIMELY_CATEGORICAL = ("product", "issue", "state", "submitted_via")
TIMELY_NUMERIC = ("year", "month", "day")
RESPONSE_FEATURES = ("product_index", "frequency_company", "frequency_issue")


def timely_pipeline(model: str = "lr") -> Pipeline:
    """Binary timely-response task (reference timely_LR.py:71-103 /
    timely_SVM.py:75-98): StringIndexer per categorical (handleInvalid=keep,
    frequencyDesc pinned) + label indexer + VectorAssembler + model.

    `model` ∈ {lr, svm, gbt} — gbt included for README parity (the reference
    claims GBT best at README.md:38 but ships no script)."""
    if model not in BINARY_MODELS:
        raise ValueError(f"model must be one of {sorted(BINARY_MODELS)}")
    # ONE multi-column indexer fit = one counting pass over the train set
    # for all categorical features (the reference fits one indexer per
    # column — 4 separate jobs); per-column frequencies and therefore
    # indices are identical either way
    indexed = [f"{c}_index" for c in TIMELY_CATEGORICAL]
    stages = [
        StringIndexer(
            inputCols=list(TIMELY_CATEGORICAL),
            outputCols=indexed,
            handleInvalid="keep",
            stringOrderType="frequencyDesc",
        ),
        StringIndexer(
            inputCol="timely",
            outputCol="label",
            handleInvalid="skip",
            stringOrderType="frequencyDesc",
        ),
    ]
    stages.append(
        VectorAssembler(
            inputCols=indexed + list(TIMELY_NUMERIC),
            outputCol="features",
        )
    )
    stages.append(BINARY_MODELS[model]())
    return Pipeline(stages=stages)


def response_pipeline(model: str = "dt") -> Pipeline:
    """8-class company_response task (reference
    decision_tree_final_class_8.py:110-121): product indexer + frequency
    encodings (done upstream by operators.encode.frequency_encode) →
    assembler → DT/RF."""
    if model not in MULTICLASS_MODELS:
        raise ValueError(f"model must be one of {sorted(MULTICLASS_MODELS)}")
    stages = [
        StringIndexer(
            inputCol="product",
            outputCol="product_index",
            handleInvalid="keep",
            stringOrderType="frequencyDesc",
        ),
        StringIndexer(
            inputCol="company_response",
            outputCol="label",
            handleInvalid="skip",
            stringOrderType="frequencyDesc",
        ),
        VectorAssembler(inputCols=list(RESPONSE_FEATURES), outputCol="features"),
        MULTICLASS_MODELS[model](),
    ]
    return Pipeline(stages=stages)


# ---------------------------------------------------------------------------
# Tuning (M14-M16)
# ---------------------------------------------------------------------------


def lr_param_grid(pipeline: Pipeline) -> list:
    """Reference LR grid (timely_LR.py:116-119): regParam × elasticNet."""
    lr = pipeline.getStages()[-1]
    return (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.0001, 0.001, 0.01, 0.1, 1.0, 10.0])
        .addGrid(lr.elasticNetParam, [0.0, 0.5, 1.0])
        .build()
    )


def random_grid(full_grid: list, n: int, seed: int = 42) -> list:
    """Seeded random search over a built grid — the OSS replacement for the
    Databricks-only RandomParamGridBuilder the reference imports
    (timely_LR.py:114, ImportError in open-source PySpark)."""
    rng = random.Random(seed)
    return rng.sample(full_grid, min(n, len(full_grid)))


def cv_fit(
    pipeline: Pipeline,
    train: DataFrame,
    grid: list,
    evaluator,
    folds: int = 3,
    parallelism: int = 4,
):
    """CrossValidator (reference timely_LR.py:123, numFolds 5/3) with
    parallelism — the reference fits grid points serially."""
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=folds,
        parallelism=parallelism,
        seed=42,
    )
    return cv.fit(train)


def tvs_fit(pipeline: Pipeline, train: DataFrame, grid: list, evaluator,
            parallelism: int = 4):
    """TrainValidationSplit, trainRatio 0.8 (reference
    decision_tree_final_class_8.py:395-398, compared head-to-head with CV)."""
    tvs = TrainValidationSplit(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        trainRatio=0.8,
        parallelism=parallelism,
        seed=42,
    )
    return tvs.fit(train)


# ---------------------------------------------------------------------------
# Evaluation (M17-M20)
# ---------------------------------------------------------------------------


def auc(predictions: DataFrame) -> float:
    return BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(
        predictions
    )


# ---------------------------------------------------------------------------
# M22 convenience transformers — the reference imports these but never
# executes them (company_response_RF.py:32-39 dead imports).  Exposed as
# thin parameterized builders so a user porting a reference-style workflow
# that DOES use them finds the engine-native path.
# ---------------------------------------------------------------------------


def one_hot_stages(cat_cols: list[str]) -> list:
    """StringIndexer + OneHotEncoder per categorical, fused multi-column
    (one counting pass; one encoder).  Output cols ``{c}_onehot``.

    The engine's own pipelines deliberately use frequency encoding instead
    (reference README.md:21 — 7,000-value `company` one-hot is a 7,000-wide
    sparse vector); this builder exists for workflows that want the
    classic encoding anyway.
    """
    from pyspark.ml.feature import OneHotEncoder

    return [
        StringIndexer(
            inputCols=cat_cols,
            outputCols=[f"{c}_index" for c in cat_cols],
            handleInvalid="keep",
            stringOrderType="frequencyDesc",
        ),
        OneHotEncoder(
            inputCols=[f"{c}_index" for c in cat_cols],
            outputCols=[f"{c}_onehot" for c in cat_cols],
        ),
    ]


def predictions_with_labels(
    model: PipelineModel,
    predictions: DataFrame,
    label_indexer_stage: int = 1,
    out_col: str = "predicted_label",
) -> DataFrame:
    """IndexToString over the fitted label indexer: map numeric
    ``prediction`` back to the original label string — positionally safe,
    because the mapping comes from the FITTED indexer's labels (the
    reference instead hand-maintains a class_names table whose order
    silently diverges from StringIndexer's frequencyDesc order,
    decision_tree_final_class_8.py:360-369)."""
    from pyspark.ml.feature import IndexToString

    labels = model.stages[label_indexer_stage].labelsArray[0]
    return IndexToString(
        inputCol="prediction", outputCol=out_col, labels=list(labels)
    ).transform(predictions)


def feature_importances(model: PipelineModel, feature_cols: list[str]) -> DataFrame:
    """featureImportances → tidy DataFrame (reference collects to pandas and
    sorts driver-side, decision_tree_final_class_8.py:291-307)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    imp = model.stages[-1].featureImportances
    rows = [(c, float(imp[i])) for i, c in enumerate(feature_cols)]
    return spark.createDataFrame(rows, "feature string, importance double").orderBy(
        F.col("importance").desc()
    )

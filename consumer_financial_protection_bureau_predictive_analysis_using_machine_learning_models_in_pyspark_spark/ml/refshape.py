"""Reference-shape quality reproduction (VERDICT r8 item 5 / SURVEY §6).

The reference publishes ONE set of quality numbers — per-class recall /
precision on the 8-class ``company_response`` task (README.md:59-61), with
the underlying confusion matrices hard-coded in
desicion_tree_confusion_matrix.py:16-31 — computed at a specific DATA
GEOMETRY: every class resampled with replacement (seed 42) to 15,000 rows
(decision_tree_final_class_8.py:179-193), a 70/30 randomSplit seed 42
(decision_tree_final_class_8.py:209 → ~36,000 test rows, ~4,500 per actual
class), and CrossValidator / TrainValidationSplit over the published grids
(DT maxDepth×minInstancesPerNode at decision_tree_final_class_8.py:229-232;
RF numTrees×maxDepth at random_forest_final_class_8.py:221-224, numFolds 3).

The 4.9 GB CFPB corpus is not in this environment, so the published VALUES
are not reproducible — but the published GEOMETRY and PROTOCOL are.  This
module runs the engine's response pipeline at exactly that geometry on the
synthetic complaints fixture: same per-class target, same seeds, same
split, same grids, same tuner.  ``tools/reference_shape.py`` records the
full-shape run (target 15,000 → the published ~4,500-per-class test
row-sums) as a committed artifact; ``tests/test_reference_shape.py`` pins
a row-scaled-down run (same 8-class balanced geometry) as an executable
golden, with the metric-to-published-table mapping in SURVEY §6.
"""

from __future__ import annotations

from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.tuning import ParamGridBuilder
from pyspark.sql import DataFrame, SparkSession

from ..operators import metrics as M, sampling
from . import pipelines as ML


def reference_grid(pipeline, model: str) -> list:
    """The grids the reference actually tunes over.

    DT: maxDepth [3,5,7] × minInstancesPerNode [1,5,10]
    (decision_tree_final_class_8.py:229-232); RF: numTrees [10,20] ×
    maxDepth [2,4] (random_forest_final_class_8.py:221-224)."""
    est = pipeline.getStages()[-1]
    if model == "dt":
        return (
            ParamGridBuilder()
            .addGrid(est.maxDepth, [3, 5, 7])
            .addGrid(est.minInstancesPerNode, [1, 5, 10])
            .build()
        )
    if model == "rf":
        return (
            ParamGridBuilder()
            .addGrid(est.numTrees, [10, 20])
            .addGrid(est.maxDepth, [2, 4])
            .build()
        )
    raise ValueError(f"model must be dt or rf, got {model!r}")


def _canonical(df: DataFrame) -> DataFrame:
    """One sorted partition before any seeded sampling: shuffle-block fetch
    order is nondeterministic, so sample/sampleBy/RF-bootstrap outcomes
    vary run-to-run on raw shuffle output unless the frame is canonical
    first (same rationale as tests/test_golden_ml.py).  The frames here
    are ≤ 8×target rows by construction — driver-bounded, not a corpus
    operator."""
    return df.coalesce(1).sortWithinPartitions(*df.columns)


def reference_shape_eval(
    spark: SparkSession,
    sf_dir: str,
    model: str = "dt",
    target: int = 15_000,
    tuner: str = "cv",
) -> dict:
    """Run the full published protocol and return the quality surface.

    The geometry: cleaned complaints → company/issue frequency encodings
    (decision_tree_final_class_8.py:110-121) → every class resampled with
    replacement to ``target`` rows (seed 42,
    decision_tree_final_class_8.py:179-193) → 70/30 randomSplit seed 42
    (decision_tree_final_class_8.py:209).  Returns

    ``{"model", "target", "tuner", "best_params", "accuracy",
    "n_test", "per_class": {label: {"recall", "precision", "support"}},
    "row_sums": {label: support}}``

    ``tuner``: 'cv' (CrossValidator numFolds=3, the reference's headline)
    or 'tvs' (TrainValidationSplit trainRatio=0.8 — the reference compares
    both, decision_tree_final_class_8.py:395-398).  Every frame it caches
    is released on return, also when the fit raises.
    """
    from ..plans.ml_queries import _response_features

    if tuner not in ("cv", "tvs"):
        raise ValueError(f"tuner must be cv or tvs, got {tuner!r}")
    pipe = ML.response_pipeline(model)
    grid = reference_grid(pipe, model)
    evaluator = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    )
    balanced = sampling.rebalance_to_target(
        _canonical(_response_features(spark, sf_dir)), "company_response",
        target=target, seed=42,
    )
    with sampling.cached_split(_canonical(balanced)) as (train, test):
        train, preds = _canonical(train).cache(), None
        try:
            if tuner == "cv":
                fitted = ML.cv_fit(pipe, train, grid, evaluator, folds=3)
            else:
                fitted = ML.tvs_fit(pipe, train, grid, evaluator)
            best = fitted.bestModel.stages[-1]
            preds = fitted.transform(test).cache()
            per_class = {
                float(r["label"]): {
                    "recall": round(r["recall"], 6),
                    # a class the tuned model never predicts has no
                    # precision (0 predicted rows) — recorded as None, not 0
                    "precision": (
                        None if r["precision"] is None else round(r["precision"], 6)
                    ),
                    "support": int(r["n_label"]),
                }
                for r in M.per_class_metrics(preds).collect()
            }
            n_test = preds.count()
            acc = preds.filter("label = prediction").count() / n_test
        finally:
            train.unpersist()
            if preds is not None:
                preds.unpersist()
    best_params = {"maxDepth": best.getMaxDepth()}
    if model == "dt":
        best_params["minInstancesPerNode"] = best.getMinInstancesPerNode()
    else:
        best_params["numTrees"] = best.getNumTrees
    return {
        "model": model,
        "target": target,
        "tuner": tuner,
        "best_params": best_params,
        "accuracy": round(acc, 6),
        "n_test": n_test,
        "per_class": per_class,
        "row_sums": {k: v["support"] for k, v in per_class.items()},
    }

"""ML pipeline queries (SURVEY §2.9) — registered rows-only.

Model outputs are not ANSI-SQL-expressible (MLlib internals: L-BFGS, tree
split search, Gibbs/online LDA), so these entries have no DuckDB oracle; the
driver records row-count/schema stability instead, and value-level checks
live in tests/test_ml.py (metric ranges, schema invariants, seed fixing —
SURVEY §5's "ML pipeline smoke + invariant tests").

Each query's OUTPUT SHAPE is deterministic: metrics tables have a fixed row
set; confusion counts are bounded by |classes|²; topic tables are k×terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import nlp, pipelines as ML
from ..operators import encode, metrics as M, sampling
from ..sources import fixtures
from .catalog import _cleaned, _t, register


# NOTE on training-frame partitioning: both tasks train on POST-SAMPLING
# frames (oversample to parity / rebalance to 8×target), which are small by
# construction at any corpus scale — so no repartition-to-cluster-width here.
# Interleaved A/B at sf0.1 confirms widening 2→{4,8,32} partitions changes
# end-to-end task time by < noise; the iterative-fit cost is MLlib driver
# rounds, not per-partition compute.


def _timely_training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean → date_parts → oversample minority (reference timely_LR.py
    prologue), cached post-sampling (the reference caches pre-balance)."""
    df = _cleaned(spark, sf_dir)
    df = encode.date_parts(df, "date_received")
    df = df.select("product", "issue", "state", "submitted_via", "timely",
                   "year", "month", "day")
    return sampling.oversample_binary(df, "timely", minority_value="No", seed=42)


def _response_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-class prologue: clean → frequency encode company+issue
    (reference decision_tree_final_class_8.py:75-84) → the task's columns.
    ``ml.refshape`` starts from it too."""
    df = _cleaned(spark, sf_dir)
    df = encode.frequency_encode(df, "company")
    df = encode.frequency_encode(df, "issue")
    return df.select("product", "company_response", "frequency_company",
                     "frequency_issue")


def _response_training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-class prologue → rebalance to target (reference
    decision_tree_final_class_8.py prologue, single-pass)."""
    return sampling.rebalance_to_target(
        _response_features(spark, sf_dir), "company_response", target=500, seed=42
    )


def _binary_task(spark: SparkSession, sf_dir: str, model: str) -> DataFrame:
    with sampling.cached_split(_timely_training_frame(spark, sf_dir)) as (train, test):
        fitted = ML.timely_pipeline(model).fit(train)
        preds = fitted.transform(test)
        out = M.binary_metrics(preds).withColumn("model", F.lit(model))
        return out.select("model", "metric", F.round("value", 6).alias("value"))


@register("ml_timely_lr", None, "ml", "binary", "lr")
def ml_timely_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timely-response binary classification, LogisticRegression (reference
    timely_LR.py end-to-end, minus the 11 redundant count() jobs)."""
    return _binary_task(spark, sf_dir, "lr")


@register("ml_timely_svm", None, "ml", "binary", "svm")
def ml_timely_svm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timely-response binary classification, LinearSVC (reference
    timely_SVM.py — which cannot run as committed, SURVEY §2.12 syntax
    error; this is the working re-expression)."""
    return _binary_task(spark, sf_dir, "svm")


@register("ml_timely_gbt", None, "ml", "binary", "gbt")
def ml_timely_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timely-response binary classification, GBTClassifier — the model the
    reference's README claims best (reference README.md:38) but ships no
    script for; same parameterized pipeline as LR/SVM."""
    return _binary_task(spark, sf_dir, "gbt")


@register("ml_response_dt", None, "ml", "multiclass", "dt")
def ml_response_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-class company-response task, DecisionTree (reference
    decision_tree_final_class_8.py): rebalance → fit → DataFrame-native
    confusion counts (no RDD MulticlassMetrics hop)."""
    with sampling.cached_split(_response_training_frame(spark, sf_dir)) as (train, test):
        fitted = ML.response_pipeline("dt").fit(train)
        return M.confusion_counts(fitted.transform(test)).orderBy("label", "prediction")


@register("ml_response_rf", None, "ml", "multiclass", "rf")
def ml_response_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-class task, RandomForest (reference random_forest_final_class_8.py)
    with per-class precision/recall computed distributed."""
    with sampling.cached_split(_response_training_frame(spark, sf_dir)) as (train, test):
        fitted = ML.response_pipeline("rf").fit(train)
        return M.per_class_metrics(fitted.transform(test))


@register("ml_feature_importances", None, "ml", "introspection")
def ml_feature_importances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """featureImportances as a tidy DataFrame (reference
    decision_tree_final_class_8.py:291-307 does this via pandas)."""
    data = _response_training_frame(spark, sf_dir)
    fitted = ML.response_pipeline("dt").fit(data)
    return ML.feature_importances(fitted, list(ML.RESPONSE_FEATURES))


@register("ml_timely_lr_tuned", None, "ml", "tuning", "cv", "tvs")
def ml_timely_lr_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter tuning head-to-head (M14-M16): seeded random search
    over the reference LR grid (timely_LR.py:116-123, regParam×elasticNet),
    fit with BOTH CrossValidator (timely_LR.py:123-131) and
    TrainValidationSplit (decision_tree_final_class_8.py:395-429's CV-vs-TVS
    comparison), emitting one row per tuner: best params + validation
    metric + held-out AUC.

    Deterministic under fixed seeds (sampling, split, grid subset, tuner
    seed all pinned); pytest asserts best-params stability.  Grid is a
    4-point random subset so the driver-run cost stays bounded (the full
    18-point × 5-fold reference sweep is the same code path).
    """
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    pipe = ML.timely_pipeline("lr")
    grid = ML.random_grid(ML.lr_param_grid(pipe), n=4, seed=7)
    ev = BinaryClassificationEvaluator(metricName="areaUnderROC")

    rows = []
    with sampling.cached_split(_timely_training_frame(spark, sf_dir)) as (train, test):
        cv_model = ML.cv_fit(pipe, train, grid, ev, folds=3, parallelism=8)
        tvs_model = ML.tvs_fit(pipe, train, grid, ev, parallelism=8)
        for tuner, model, val_metric in (
            ("cv", cv_model, max(cv_model.avgMetrics)),
            ("tvs", tvs_model, max(tvs_model.validationMetrics)),
        ):
            lr = model.bestModel.stages[-1]
            rows.append((
                tuner,
                float(lr.getRegParam()),
                float(lr.getElasticNetParam()),
                round(float(val_metric), 6),
                round(float(ev.evaluate(model.bestModel.transform(test))), 6),
            ))
    return spark.createDataFrame(
        rows,
        "tuner string, best_reg_param double, best_elastic_net double,"
        " val_auc double, test_auc double",
    ).orderBy("tuner")


@register("ml_lda_topics_em", None, "ml", "nlp", "lda", "em")
def ml_lda_topics_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped LDA (complaints_narrative_LDA.py:86: k=25, seed=123,
    optimizer='em'): the EM optimizer keeps the full doc-term posterior as a
    distributed graph (vs online's minibatched driver-side topic matrix), so
    this is the configuration that matters for cluster-scale corpora.
    Output: (topic, term, weight) — k×terms_per_topic rows."""
    docs = _t(spark, sf_dir, "documents")
    featurized, vocab = nlp.nlp_features(docs, "text", vocab_size=200, min_df=1.0)
    topics, _doc_topics = nlp.lda_topics(
        spark, featurized, vocab, k=25, seed=123, optimizer="em",
        max_iter=10, terms_per_topic=8,
    )
    return topics.select("topic", "term", F.round("weight", 6).alias("weight"))


@register(
    "ml_lda_topics", None, "ml", "nlp", "lda",
    twin_of="ml_lda_topics_em",
    twin_pin="tests/test_ml.py::test_lda_em_optimizer_parity_path",
)
def ml_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic modeling on documents (reference complaints_narrative_LDA.py,
    k scaled to the corpus): native clean-text → CV/IDF → online LDA →
    (topic, term, weight) via join, no UDF/broadcast variable."""
    docs = _t(spark, sf_dir, "documents")
    featurized, vocab = nlp.nlp_features(docs, "text", vocab_size=200, min_df=1.0)
    topics, _doc_topics = nlp.lda_topics(
        spark, featurized, vocab, k=5, seed=123, optimizer="online",
        max_iter=10, terms_per_topic=8,
    )
    return topics.select("topic", "term", F.round("weight", 6).alias("weight"))


# Scored-frame memo for the lift twins: the LR fit is the offline
# artifact (same lifecycle argument as text_queries.ivf_index_for); the
# lift, calibration and sweep entries serve from one cached (p1, y) frame
# per (input files, session), rebuilt when the files change.
def _lr_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import vector_to_array

    def build():
        with sampling.cached_split(_timely_training_frame(spark, sf_dir)) as (train, test):
            fitted = ML.timely_pipeline("lr").fit(train)
            scored = (
                fitted.transform(test)
                .select(
                    vector_to_array("probability")[1].alias("p1"),
                    F.col("label").cast("double").alias("y"),
                )
                .cache()
            )
            scored.count()
        return scored, [scored]

    return fixtures.memo_on_inputs("lr_scored", spark, sf_dir, build)


def _lift_from_deciles(scored_with_decile: DataFrame) -> DataFrame:
    """Fold (decile, y) into the lift/gains table: per-decile response
    rate, lift vs base rate, cumulative gains.  The window runs over the
    10-row aggregate, never the scored frame."""
    from pyspark.sql import Window

    per = scored_with_decile.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").cast("double").alias("_tn"),
        F.sum("n_pos").cast("double").alias("_tp"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("_cum_pos", F.sum("n_pos").over(wc))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(F.col("n_pos") / F.col("n"), 6).alias("response_rate"),
            F.round(
                (F.col("n_pos") / F.col("n")) / (F.col("_tp") / F.col("_tn")),
                6,
            ).alias("lift"),
            F.round(F.col("_cum_pos") / F.col("_tp"), 6).alias("cum_gain"),
        )
        .orderBy("decile")
    )


@register("ml_timely_lr_lift", None, "ml", "binary", "lr", "lift", "gains")
def ml_timely_lr_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for the LR timely model — the standard
    model-evaluation artifact the reference's scripts stop short of
    (they print one AUC): score the held-out set, NTILE the positive-
    class probability into 10 deciles, report per-decile response rate,
    lift vs the base rate, and cumulative gains.

    Rows-only (model probabilities aren't SQL-expressible); the
    invariants that make it trustworthy are pinned in tests/test_ml.py:
    exactly 10 rows, decile 1 lift > decile 10 lift for a
    better-than-random model, cumulative gain reaching 1.0, and
    cum_gain monotone nondecreasing.

    Scale shape: scoring is embarrassingly parallel; the NTILE is a
    single global-ordered window over the SCORED frame — fine for a
    test-split frame; the documented knob for full-corpus scoring at
    100 TB is percentile_approx decile boundaries + map-side bucketing
    (the docs_quality_deciles_approx pattern, same module)."""
    from pyspark.sql import Window

    scored = _lr_scored(spark, sf_dir)
    w = Window.orderBy(F.desc("p1"), F.col("y"))
    return _lift_from_deciles(scored.withColumn("decile", F.ntile(10).over(w)))


@register(
    "ml_timely_lr_lift_approx", None,
    "ml", "binary", "lr", "lift", "sketch-twin",
    twin_of="ml_timely_lr_lift",
    twin_pin="tests/test_ml.py::test_lr_lift_approx_tracks_exact",
)
def ml_timely_lr_lift_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of ml_timely_lr_lift — the 100 TB scoring path AS
    CODE (the exact/approx twin discipline: quantiles, deciles,
    active-users, MAD, now lift): decile boundaries from
    percentile_approx over the scores, then a map-side bucket assignment
    — NO global-ordered NTILE window anywhere, so full-corpus scoring
    never funnels through one task.  Same lift fold as the exact entry;
    agreement at fixture scale is pinned in tests/test_ml.py."""
    scored = _lr_scored(spark, sf_dir)
    cuts = scored.agg(
        F.percentile_approx(
            "p1", [i / 10.0 for i in range(1, 10)], 10_000
        ).alias("_cuts")
    )
    bucketed = scored.crossJoin(F.broadcast(cuts)).select(
        "y",
        (
            F.lit(10)
            - F.size(F.filter("_cuts", lambda c: F.col("p1") > c))
        ).alias("decile"),
    )
    return _lift_from_deciles(bucketed)


@register(
    "ml_timely_lr_calibration", None,
    "ml", "binary", "lr", "calibration", "reliability",
)
def ml_timely_lr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table for the LR timely model — the
    companion artifact to the lift/gains table: fixed-width probability
    bins [0,0.1)..[0.9,1], per bin the count, mean predicted
    probability, observed positive fraction, and their absolute gap
    (whose n-weighted sum over bins is expected calibration error).
    A model whose probabilities drive downstream sampling or routing
    needs this table, not just an AUC.

    Rows-only (model probabilities aren't SQL-expressible); mechanical
    invariants — bin bounds contain mean_pred, counts fold to the test
    split, weighted ECE under a fixture bound — are pinned in
    tests/test_round7.py.

    Scale shape: the bin id is a map-side projection (no NTILE, no
    global sort anywhere) and the table is one 10-row aggregate; scoring
    is embarrassingly parallel, so this runs at full-corpus scale
    as-is."""
    scored = _lr_scored(spark, sf_dir)
    b = F.least(F.floor(F.col("p1") * 10).cast("int"), F.lit(9))
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg("p1").alias("_mp"),
            F.avg("y").alias("_fp"),
        )
        .select(
            "bin",
            "n",
            F.round("_mp", 6).alias("mean_pred"),
            F.round("_fp", 6).alias("frac_pos"),
            F.round(F.abs(F.col("_mp") - F.col("_fp")), 6).alias("abs_gap"),
        )
        .orderBy("bin")
    )


@register(
    "ml_timely_lr_threshold_sweep", None,
    "ml", "binary", "lr", "threshold", "pr-curve",
)
def ml_timely_lr_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PR/confusion curve for the LR timely model in ONE pass: the
    reference evaluates a single operating point (0.5); real deployments
    pick the threshold from this table.  For every threshold k/20
    (k=1..19): tp/fp/fn/tn and precision/recall/F1.

    The fold is ``metrics.threshold_sweep``: a 20-cell histogram of the
    scores, then a suffix-sum window over the 20-row aggregate — cell k's
    suffix sum IS {p1 >= k/20} exactly (floor semantics), so the one-pass
    table equals the 19-scan table row for row, pinned against direct
    filtering in tests/test_round7.py.  Precision is NULL at a threshold
    with no predicted positives."""
    nb = M.SWEEP_BINS
    scored = _lr_scored(spark, sf_dir).select(
        F.least(F.floor(F.col("p1") * nb).cast("int"), F.lit(nb - 1)).alias("cell"),
        "y",
    )
    threshold = F.round(F.col("cell") / F.lit(float(nb)), 2).alias("threshold")
    return M.threshold_sweep(scored, threshold)

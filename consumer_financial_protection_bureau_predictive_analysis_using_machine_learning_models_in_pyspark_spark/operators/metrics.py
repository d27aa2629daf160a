"""Evaluation-metric operators (SURVEY §2.10 `binary_metrics`, the
confusion matrix; §2.9 M19 replacement).

Reference behavior:
- TP/FP/TN/FN via four separate SQL-string filter+count jobs (reference
  timely_LR.py:157-160), then precision/recall arithmetic on the driver
  (timely_LR.py:169-170), emitted as a (metric, value) table
  (timely_LR.py:164-171);
- confusion matrix via the RDD MulticlassMetrics API, requiring a
  FloatType cast, a global orderBy, and a DataFrame→RDD→Python hop
  (reference decision_tree_final_class_8.py:318-336).

Ours stays in DataFrame land: ONE ``groupBy(label, prediction).count()``
job yields the full confusion matrix; every binary/multiclass metric is
column arithmetic over that tiny result.  No RDD hop, no global sort, one
shuffle of |classes|² rows instead of four full-table scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def confusion_counts(
    df: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """Long-form confusion matrix: (label, prediction, n) — the DataFrame-
    native replacement for MulticlassMetrics (M19)."""
    return (
        df.groupBy(F.col(label_col).alias("label"), F.col(pred_col).alias("prediction"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def binary_metrics(df: DataFrame) -> DataFrame:
    """(metric, value) table: tp/fp/tn/fn/precision/recall/f1/accuracy of
    ``prediction`` against ``label``, positive class 1.0.

    Replaces the reference's four independent count() jobs
    (timely_LR.py:157-160) with one conditional aggregation — a single scan
    with map-side partial aggregation, which is the difference between 4×
    and 1× I/O at 100 TB.
    """
    lbl, prd, pos = F.col("label"), F.col("prediction"), F.lit(1.0)
    agg = df.agg(
        F.sum(F.when((prd == pos) & (lbl == pos), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((prd == pos) & (lbl != pos), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((prd != pos) & (lbl != pos), 1).otherwise(0)).alias("tn"),
        F.sum(F.when((prd != pos) & (lbl == pos), 1).otherwise(0)).alias("fn"),
    )
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    wide = agg.select(
        tp.cast("double").alias("tp"),
        fp.cast("double").alias("fp"),
        tn.cast("double").alias("tn"),
        fn.cast("double").alias("fn"),
        (tp / F.nullif(tp + fp, F.lit(0))).alias("precision"),
        (tp / F.nullif(tp + fn, F.lit(0))).alias("recall"),
        ((tp + tn) / F.nullif(tp + fp + tn + fn, F.lit(0))).alias("accuracy"),
    ).withColumn(
        "f1",
        2 * F.col("precision") * F.col("recall")
        / F.nullif(F.col("precision") + F.col("recall"), F.lit(0)),
    )
    # Tidy (metric, value) long form — the reference's output shape
    # (timely_LR.py:164-171), kept oracle-checkable.
    metrics = ["tp", "fp", "tn", "fn", "precision", "recall", "accuracy", "f1"]
    stack = ", ".join(f"'{m}', {m}" for m in metrics)
    return wide.selectExpr(f"stack({len(metrics)}, {stack}) AS (metric, value)")


# cells of the threshold-sweep histogram: thresholds k/SWEEP_BINS, k=1..19
SWEEP_BINS = 20


def threshold_sweep(scored: DataFrame, threshold: Column) -> DataFrame:
    """The full PR/confusion curve in ONE pass: for every threshold cell
    k=1..SWEEP_BINS-1, tp/fp/fn/tn and precision/recall/F1 of
    {cell ≥ k} against the label.

    ``scored`` holds the score's cell ``cell`` (int in [0, SWEEP_BINS))
    and its 0/1 label ``y``; ``threshold`` is a named expression over
    ``cell``, the cell's lower bound in the caller's units — the first
    output column and the sort key.

    One map-side histogram of (n, n_pos) per cell, densified (a score
    range with no rows still owes its threshold a row); every threshold's
    counts then fall out of a suffix-sum window over the 20-row aggregate,
    never the scored frame, so the cost is one scan, not 19.  At a
    threshold with no predicted positives precision is NULL (undefined),
    recall and f1 are 0.
    """
    from pyspark.sql import Window

    nb = SWEEP_BINS
    hist = scored.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    cells = scored.sparkSession.range(nb).select(F.col("id").cast("int").alias("cell"))
    hist = cells.join(hist, "cell", "left").fillna(0, subset=["n", "n_pos"])
    tot = hist.agg(
        F.sum("n").cast("bigint").alias("_nn"),
        F.sum("n_pos").cast("bigint").alias("_pp"),
    )
    wc = Window.orderBy(F.desc("cell")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "cell",
        F.sum("n").over(wc).alias("_pred_pos"),
        F.sum("n_pos").over(wc).alias("_tp"),
    )
    counts = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cell") >= 1)
        .select(
            threshold,
            F.col("_tp").cast("bigint").alias("tp"),
            (F.col("_pred_pos") - F.col("_tp")).cast("bigint").alias("fp"),
            (F.col("_pp") - F.col("_tp")).cast("bigint").alias("fn"),
            (F.col("_nn") - F.col("_pp") - (F.col("_pred_pos") - F.col("_tp")))
            .cast("bigint")
            .alias("tn"),
        )
    )
    name = counts.columns[0]
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    )
    # CASE-guarded for ANSI mode (the driver's vanilla session): a
    # positive-free split must yield 0, not a div-by-zero error
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp") / (F.col("tp") + F.col("fn")),
    ).otherwise(F.lit(0.0))
    return (
        counts.withColumn("_prec", prec)
        .withColumn("_rec", rec)
        .select(
            name, "tp", "fp", "fn", "tn",
            F.round("_prec", 6).alias("precision"),
            F.round("_rec", 6).alias("recall"),
            F.round(
                F.when(
                    F.coalesce(F.col("_prec"), F.lit(0.0)) + F.col("_rec") > 0,
                    2 * F.col("_prec") * F.col("_rec")
                    / (F.col("_prec") + F.col("_rec")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("f1"),
        )
        .orderBy(name)
    )


def per_class_metrics(
    df: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """Per-class precision/recall from the long confusion matrix — the
    distributed rewrite of the reference's driver-side NumPy row/column sums
    (decision_tree_final_class_8.py:341-349)."""
    cm = confusion_counts(df, label_col, pred_col)
    row_tot = cm.groupBy("label").agg(F.sum("n").alias("n_label"))
    col_tot = (
        cm.groupBy("prediction")
        .agg(F.sum("n").alias("n_pred"))
        .withColumnRenamed("prediction", "label")
    )
    diag = cm.filter(F.col("label") == F.col("prediction")).select(
        "label", F.col("n").alias("tp")
    )
    return (
        row_tot.join(diag, on="label", how="left")
        .join(col_tot, on="label", how="left")
        .na.fill({"tp": 0, "n_pred": 0})
        .select(
            "label",
            F.col("tp").cast("double").alias("tp"),
            F.col("n_label").cast("double").alias("n_label"),
            (F.col("tp") / F.nullif(F.col("n_pred"), F.lit(0))).alias("precision"),
            (F.col("tp") / F.nullif(F.col("n_label"), F.lit(0))).alias("recall"),
        )
        .orderBy("label")
    )


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """Data-quality profile: one row per column with
    (col_name, n_rows, n_null, n_distinct, min_value, max_value) — the
    ingest-time sanity report every pipeline stage gates on (null
    explosions, cardinality drift, out-of-range values).

    ONE aggregation job computes every column's stats as parallel agg
    expressions (map-side partial, no per-column scans — the reference's
    four-filter-jobs anti-pattern inverted), then ``stack`` unpivots the
    1-wide-row result; min/max render as strings so heterogeneous column
    types share one schema.  ``approx_distinct=True`` swaps exact
    count_distinct (one dedup shuffle per column) for HLL
    approx_count_distinct — the 100 TB knob; the exact form is the
    oracle-checkable baseline.
    """
    cols = cols or df.columns
    nd = (
        (lambda c: F.approx_count_distinct(c, 0.02))  # rsd 2%
        if approx_distinct
        else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).cast("bigint").alias(f"_nn_{c}"),
            nd(c).cast("bigint").alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_mn_{c}"),
            F.max(c).cast("string").alias(f"_mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', _n, _n - _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(col_name, n_rows, n_null, n_distinct, min_value, max_value)"
    )


def confusion_matrix_export(
    df: DataFrame,
    label_col: str = "label",
    pred_col: str = "prediction",
    classes: list | None = None,
    csv_path: str | None = None,
    heatmap_path: str | None = None,
):
    """Confusion-matrix ARTIFACT export — literal parity with the
    reference's two driver-side heatmap scripts
    (desicion_tree_confusion_matrix.py:16-84,
    random_forest_confusion_matrix.py:16-84), which hand-transcribe the
    matrix into a notebook, build a pandas frame, and plot it with
    seaborn/matplotlib.

    Here the matrix is COMPUTED: one groupBy+pivot job (|classes|² rows;
    a static ``classes`` list skips Spark's distinct-values pre-job),
    pulled through the guarded driver collect (``to_pandas_small`` — a
    |classes|-row frame, never the corpus), then written as a CSV golden
    and, when matplotlib is importable, a heatmap PNG.  matplotlib is
    absent in this container, so the plot follows the multimodal-codec
    strict posture: requesting ``heatmap_path`` without the library
    raises ``NotImplementedError`` (fail loudly, don't fake an artifact);
    the CSV — the part a downstream tool actually consumes — never needs
    it.

    Returns the pandas frame (rows = labels ascending, one column per
    class in the given order).
    """
    from ..sources.sinks import to_pandas_small

    cm = confusion_counts(df, label_col, pred_col).groupBy("label")
    wide = (
        cm.pivot("prediction", classes) if classes else cm.pivot("prediction")
    ).sum("n").na.fill(0).orderBy("label")
    pdf = to_pandas_small(wide)
    pdf = pdf.set_index("label")
    pdf.index.name = "Actual"
    pdf.columns.name = "Predicted"
    if csv_path is not None:
        pdf.to_csv(csv_path)
    if heatmap_path is not None:
        try:
            import matplotlib

            matplotlib.use("Agg")
            import matplotlib.pyplot as plt
        except ImportError as e:
            raise NotImplementedError(
                "confusion-matrix heatmap requires matplotlib; the CSV "
                "artifact was still produced if csv_path was given"
            ) from e
        fig, ax = plt.subplots(figsize=(8, 6))
        im = ax.imshow(pdf.to_numpy(), cmap="YlGnBu")
        ax.set_xticks(range(len(pdf.columns)), labels=pdf.columns)
        ax.set_yticks(range(len(pdf.index)), labels=pdf.index)
        for i in range(len(pdf.index)):
            for j in range(len(pdf.columns)):
                ax.text(j, i, f"{pdf.iat[i, j]:.0f}", ha="center", va="center")
        ax.set_xlabel("Predicted")
        ax.set_ylabel("True Label")
        fig.colorbar(im)
        fig.savefig(heatmap_path, bbox_inches="tight")
        plt.close(fig)
    return pdf


def partition_checksum(
    df: DataFrame,
    partition_col,
    key_col,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Order/layout-independent per-partition content checksums: each
    row contributes md5(key rendering) folded to a 13-hex-digit int mod
    ``mod``; the partition checksum is the modular SUM — insensitive to
    row order, partitioning, and file layout, flipped by any dropped,
    duplicated, or key-mutated row.  Replicas of a 100 TB table compare
    by exchanging one row per partition, never data.

    The modular fold is MERGEABLE ((a+b) % m == ((a%m)+(b%m)) % m), so
    partials from micro-batches or per-replica segments combine by
    modular addition — the property `streaming.jobs
    .run_streaming_checksum_mv` builds on.  This is the ONE definition
    of the fold; every batch/streaming/reconcile call site must use it
    so their manifests can never drift apart (the oracles unroll the
    same arithmetic).

    ``key_col`` must render to an engine-portable STRING (ints, string
    fields, yyyy-MM-dd dates — never raw doubles, whose string form is
    engine-specific).  NULL in any keyed field nulls that row's
    contribution (concat propagates NULL; SUM skips it) — fail-closed.

    Returns (<partition_col as 'part'>, n_rows BIGINT, checksum BIGINT);
    callers alias 'part' to their grain name.
    """
    # the fold itself is checksum_fold — the ONE definition both this
    # grouped form and in-agg call sites (delete_propagation) share
    return (
        df.select(partition_col.alias("part"), key_col.alias("_k"))
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            checksum_fold(F.col("_k"), mod).alias("checksum"),
        )
    )


def checksum_fold(key_col, mod: int = 1_000_000_007):
    """The :func:`partition_checksum` fold as a reusable AGGREGATE
    expression (for call sites that fold inside an existing agg instead
    of a dedicated groupBy — e.g. pipeline.delete_propagation's
    per-table audit rows).  NULL keys contribute nothing (SUM skips
    NULL) — same fail-closed discipline; an all-NULL group folds to 0,
    not NULL, so an empty deletion set reads as checksum 0."""
    v = (
        F.conv(F.substring(F.md5(key_col), 1, 13), 16, 10).cast("bigint")
        % F.lit(mod)
    )
    return (
        F.coalesce(F.sum(v.cast("decimal(38,0)")) % F.lit(mod), F.lit(0))
        .cast("bigint")
    )

"""Sampling / rebalancing operators (SURVEY §2.6 U1-U4, §2.10).

Reference behavior:
- binary oversample: ratio = majority.count/minority.count → sample the
  minority with replacement at that fraction → union (reference
  timely_LR.py:88-96, timely_SVM.py:95);
- 8-class rebalance to a fixed per-class target: 8 separate filters, 8
  counts, 8 samples, 9-way union fold seeded from an empty frame (reference
  decision_tree_final_class_8.py:154-194).

Scale rewrite (SURVEY §4.3): the reference's pattern is 8 full scans + 8
unions.  Ours computes all class counts in ONE aggregation job, then does ONE
``sample_fraction``-per-class pass via a rand() filter keyed by class — a
single scan, no union fold.  Same semantics (per-class Bernoulli/Poisson
sampling, fixed seed), O(1) scans instead of O(classes).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def class_counts(df: DataFrame, label_col: str) -> dict[str, int]:
    """All per-class counts in one job (replaces the reference's 8 separate
    ``count()`` actions at decision_tree_final_class_8.py:166-175)."""
    rows = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    return {r[label_col]: r["n"] for r in rows}


def oversample_binary(
    df: DataFrame, label_col: str, minority_value, seed: int = 42
) -> DataFrame:
    """Composite `oversample_binary` (reference timely_LR.py:88-96):
    upsample the minority class (with replacement) to parity, union back.
    """
    counts = class_counts(df, label_col)
    minority_n = counts[minority_value]
    majority_n = sum(n for v, n in counts.items() if v != minority_value)
    ratio = majority_n / max(minority_n, 1)
    minority = df.filter(F.col(label_col) == minority_value)
    majority = df.filter(F.col(label_col) != minority_value)
    over = minority.sample(withReplacement=True, fraction=ratio, seed=seed)
    return majority.union(over)


def rebalance_to_target(
    df: DataFrame, label_col: str, target: int = 15_000, seed: int = 42
) -> DataFrame:
    """Composite `rebalance_to_target` (reference
    decision_tree_final_class_8.py:154-194) as a single-pass operator.

    For classes larger than the target this is stratified downsampling via
    ``sampleBy`` fractions; classes below the target are upsampled with
    replacement (separate Poisson sample, as `sampleBy` can't exceed 1.0).
    One aggregation job for counts + one scan per direction — not one scan
    per class like the reference.
    """
    counts = class_counts(df, label_col)
    down_fracs = {v: min(1.0, target / n) for v, n in counts.items() if n >= target}
    up_classes = {v: target / n for v, n in counts.items() if n < target}

    out = df.stat.sampleBy(label_col, fractions=down_fracs, seed=seed)
    if up_classes:
        # One union of the upsampled small classes; the small side is tiny by
        # construction (classes under the target).
        small = df.filter(F.col(label_col).isin(list(up_classes)))
        for v, frac in up_classes.items():
            up = small.filter(F.col(label_col) == v).sample(
                withReplacement=True, fraction=frac, seed=seed
            )
            out = out.union(up)
    return out


def stratified_quota_sample(
    df: DataFrame,
    group_col: str,
    quota: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-group quota sampling: rank each group's rows by a
    uniform hash of their id and keep the first ``quota``.

    Unlike ``sampleBy`` (per-partition Bernoulli over arrival order, so
    membership shifts with cluster layout and emits a binomial approximate
    count), this selection is a pure function of the data: reproducible
    across runs, partitionings, and engines (the DuckDB oracle replays it
    exactly), and each group yields EXACTLY min(quota, |group|) rows — the
    contract a training-data mixture spec needs.  ``salt`` re-draws the
    sample without touching the data.

    Scale: one ``row_number`` window partitioned by the group key — a hash
    shuffle on the group plus a partition-local sort, no global sort.  For
    quotas ≪ group sizes at extreme scale, a pre-filter on the hash value
    (keep ~2× quota/|group| quantile) would bound the sort input; not
    needed at driver scale.
    """
    from pyspark.sql import Window

    rk = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(rk, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota)
        .drop("_rk")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Temperature-scaled domain resampling: draw a corpus whose group
    mixture follows q_g ∝ share_g^alpha (alpha<1 flattens the mixture
    toward uniform — the multilingual/pretraining reweighting of
    mBERT/XLM-R and data-mix papers), at ``target_frac`` of the corpus,
    deterministically.

    Per-group keep probability: keep_g = min(1, target_frac · N · q_g /
    n_g); each row keeps iff a uniform md5-hash of its id falls under
    keep_g — the same engine-reproducible Bernoulli as
    ``docs_weighted_sample`` (no RNG state, identical membership on any
    partitioning or engine).

    Numeric discipline: q_g's normalizer folds sqrt terms through DECIMAL
    (order-independent, engine-exact); the remaining arithmetic is
    correctly-rounded IEEE double ops over identical inputs, written in
    one fixed association order mirrored by the SQL oracle.

    Scale posture: the weight table has one row per group — a bounded
    domain dimension (sources/languages), NOT scale-linear — so its
    broadcast join back is safe at any corpus size; the sample itself is
    a map-side filter.  Returns the kept rows with ``keep_frac`` and the
    group's corpus count ``group_total`` attached (so reports need no
    second corpus aggregate).
    """
    from pyspark.sql import Window

    # The corpus is aggregated ONCE; the normalizer scalars (_n_tot,
    # _s_tot) come from unpartitioned windows over the group-cardinality
    # aggregate — a single-partition pass over a frame bounded by the
    # domain dimension, NOT the corpus, so the "no partitionBy" warning
    # class does not apply.  (crossJoin scalar frames here would re-run
    # the corpus aggregate once per scalar through the shared lineage.)
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n_g"))
    with_tot = counts.withColumn(
        "_n_tot", F.sum("_n_g").over(everything).cast("bigint")
    )
    share = F.col("_n_g") / F.col("_n_tot")
    # alpha=0.5 (the common default) goes through sqrt, which IEEE 754
    # requires to be correctly rounded — bit-identical in every engine.
    # Other alphas use pow, where a ≤1-ulp libm divergence is possible
    # (same measure-zero boundary caveat as unigram_logprob).
    powed = F.sqrt(share) if alpha == 0.5 else F.pow(share, F.lit(float(alpha)))
    scored = with_tot.withColumn("_sd", powed.cast("decimal(20,15)")).withColumn(
        "_s_tot", F.sum("_sd").over(everything)
    )
    keep = F.least(
        F.lit(1.0),
        F.lit(float(target_frac))
        * (F.col("_sd").cast("double") / F.col("_s_tot").cast("double"))
        * (F.col("_n_tot").cast("double") / F.col("_n_g").cast("double")),
    )
    weights = scored.withColumn("_keep", keep).select(group_col, "_n_g", "_keep")
    unif = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
    ).cast("bigint") / F.lit(float(16 ** 13))
    return (
        df.join(F.broadcast(weights), group_col)
        .filter(unif < F.col("_keep"))
        .withColumn(
            "keep_frac",
            F.floor(F.col("_keep") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        )
        .withColumn("group_total", F.col("_n_g").cast("bigint"))
        .drop("_n_g", "_keep")
    )


def weighted_mixture_sample(
    df: DataFrame,
    weights: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    weight_col: str = "w",
    target_frac: float = 0.5,
) -> DataFrame:
    """Realize an externally-optimized group mixture: given a per-group
    target-weight table (any positive exact weights — e.g.
    ``pipeline.domain_reweight_mw``'s integer ``w3``), draw a
    deterministic ~``target_frac`` sample whose group mixture follows
    w_g / Σw.  This is the APPLY step that closes the mixture-
    optimization loop: reweight computes the target, this realizes it.

    keep_g = min(1, target_frac · (w_g/W) · (N/n_g)); membership is the
    same engine-reproducible md5-uniform Bernoulli as
    ``temperature_sample`` (whose self-computed share^alpha weights this
    generalizes to caller-supplied ones).  The weight/count arithmetic
    is correctly-rounded IEEE doubles over exact integers in one fixed
    association order, mirrored by the SQL oracle.

    Scale posture: identical to temperature_sample — the weight table is
    a bounded domain dim (broadcast), the sample a map-side filter.
    Returns kept rows with ``keep_frac``, ``group_total`` and the
    group's ``mix_weight`` attached.

    The weight table must COVER every group present in ``df`` with a
    non-NULL weight: a partial table would silently drop the uncovered
    groups and skew the mixture (r7 advisor flag).  Coverage is enforced
    IN-PLAN — a left join plus ``assert_true`` that names the first
    uncovered group at execution time — so composing the plan stays lazy
    and free (the r8 review flagged the earlier eager collect+persist:
    every caller paid a full count job at plan-construction time).
    """
    from pyspark.sql import Window

    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n_g"))
    wtab = weights.select(group_col, F.col(weight_col).alias("_w"))
    covered = counts.join(wtab, group_col, "left")
    guard = F.assert_true(
        F.col("_w").isNotNull(),
        F.concat(
            F.lit("weighted_mixture_sample: weight table has no (non-NULL) "
                  "weight for group '"),
            F.col(group_col).cast("string"),
            F.lit("' present in df — a partial weight table would silently "
                  "skew the mixture"),
        ),
    )
    w_type = dict(covered.dtypes)["_w"]
    joined = (
        covered.withColumn("_w", F.coalesce(guard.cast(w_type), F.col("_w")))
        .withColumn("_n_tot", F.sum("_n_g").over(everything).cast("bigint"))
        .withColumn("_w_tot", F.sum("_w").over(everything).cast("bigint"))
    )
    keep = F.least(
        F.lit(1.0),
        F.lit(float(target_frac))
        * (F.col("_w").cast("double") / F.col("_w_tot").cast("double"))
        * (F.col("_n_tot").cast("double") / F.col("_n_g").cast("double")),
    )
    wfinal = joined.select(
        group_col, "_n_g", F.col("_w"), keep.alias("_keep")
    )
    unif = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
    ).cast("bigint") / F.lit(float(16 ** 13))
    return (
        df.join(F.broadcast(wfinal), group_col)
        .filter(unif < F.col("_keep"))
        .withColumn(
            "keep_frac",
            F.floor(F.col("_keep") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        )
        .withColumn("group_total", F.col("_n_g").cast("bigint"))
        .withColumn("mix_weight", F.col("_w").cast("bigint"))
        .drop("_n_g", "_w", "_keep")
    )


def train_test_split(df: DataFrame, seed: int = 42) -> list[DataFrame]:
    """70/30 split, seed=42 (U4; reference timely_LR.py:100)."""
    return df.randomSplit([0.7, 0.3], seed=seed)


@contextmanager
def cached_split(df: DataFrame) -> Iterator[list[DataFrame]]:
    """One fit's training lifetime: cache ``df``, yield its 70/30 split,
    and unpersist ``df`` on exit, also when the fit raises.  ``cache()``
    registers the frame in the CacheManager before any action fills it,
    so the release must run on every path."""
    data = df.cache()
    try:
        yield train_test_split(data)
    finally:
        data.unpersist()

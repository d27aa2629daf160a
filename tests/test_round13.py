"""Round-13 pins: SemDeDup clone-collapse governor + duplication-factor
dispatch (VERDICT r12 items 1-2), plus the r12 ADVICE hardening.

The semantic-collapse contract is stronger than the text families':
because bucketing / cell assignment / pair scores are pure functions of
the vector, the collapsed program must EQUAL the uncollapsed member-level
components in every regime — including the degenerate low-norm-clone
regime where byte-identical vectors are NOT near-duplicates of each
other (the ``tight`` bit's raison d'être).  The dispatch contract: the
auto entries return the chosen arm bit-exactly, route ``fast`` on the
clone-light fixtures and ``collapsed`` on clone-heavy corpora.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    CATALOG,
    breadth13,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    dispatch as DP,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    restart as RS,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
    jobs as SJ,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# Semantic clone-collapse governor
# ---------------------------------------------------------------------------


def test_semantic_collapsed_equals_uncollapsed(spark):
    """The collapse changes the work, never the answer: on the augmented
    fixture corpus (clone cliques of size 2 and 3) the collapsed frame
    equals the uncollapsed member-level components row-for-row."""
    corpus = breadth13.sem_aug(spark, SF)
    got = _rows(breadth13.semantic_collapsed_frame(corpus))
    want = _rows(breadth13.semantic_uncollapsed_frame(corpus))
    assert got == want
    assert len(got) > 0
    # the clone arm actually fired: every injected clone is DROPPED (unit
    # vectors → tight cliques), deferring to its clique minimum or — when
    # the rep sits inside a larger near-dup component — that component's
    # label, which is never larger than the clique minimum
    clones = [(v, k, c) for (v, k, c) in got if v >= 1_000_000]
    assert clones and all(not k and c <= v % 1_000_000 for v, k, c in clones)


def _vec_corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_collapsed_low_norm_clone_arms(spark):
    """The four expansion arms on a constructed corpus, including the
    degenerate one: byte-identical LOW-NORM vectors (self-dot < 0.35)
    are clones for the collapse but NOT near-duplicates of each other.

    * clique {10,11,12}: unit-ish vector, no neighbors → internally
      connected, only 10 survives;
    * clique {20,21}: ||v||² = 0.1, no neighbors → no edges at all,
      BOTH survive;
    * clique {30,31}: ||v||² ≈ 0.3 with an external neighbor 32 at
      dot ≈ 0.548 → one component {30,31,32} via the external edge
      (no intra-clique edge), only 30 survives;
    * singleton 40: far from everything, survives.
    """
    dim = 4
    u = [1.0, 0.0, 0.0, 0.0]
    low = [0.22360680103302, 0.22360680103302, 0.0, 0.0]  # ||v||² ≈ 0.1
    w = [0.547722578048706, 0.0, 0.0, 0.0]  # ||w||² ≈ 0.3, dot(w,u) ≈ 0.548
    far = [0.0, 0.0, 0.0, -1.0]
    # the {10,11,12} clique uses an axis ORTHOGONAL to w: a vector along
    # w's own axis would score dot ≈ 0.548 ≥ 0.35 against 32's u and fuse
    # {10,11,12,30,31,32} into one component
    u2 = [0.0, 0.0, 1.0, 0.0]
    rows = [
        (10, u2), (11, u2), (12, u2),
        (20, low), (21, low),
        (30, w), (31, w), (32, u),
        (40, far),
    ]
    corpus = _vec_corpus(spark, rows)
    got = {
        r.vec_id: (r.kept, r.canon_id)
        for r in breadth13.semantic_collapsed_frame(corpus, dim=dim).collect()
    }
    want = {
        10: (True, 10), 11: (False, 10), 12: (False, 10),
        20: (True, 20), 21: (True, 21),
        30: (True, 30), 31: (False, 30), 32: (False, 30),
        40: (True, 40),
    }
    assert got == want
    # and the uncollapsed path agrees arm-for-arm
    unc = {
        r.vec_id: (r.kept, r.canon_id)
        for r in breadth13.semantic_uncollapsed_frame(corpus, dim=dim).collect()
    }
    assert unc == want


def test_semantic_collapsed_fast_collapse_invariance(spark):
    """The governor's core claim for the IVF/BLAS serving path: with a
    SHARED rep-trained codebook, running the per-cell verify over
    representatives + expansion equals running it over every member —
    identical vectors land in identical cells, so collapse changes the
    work, never the answer.  (Cross-generator equality with the
    hyperplane twin is NOT the contract: IVF recall at 0.35 is its own
    documented number, the ann_semantic_dedup story.)"""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        similarity as SIM,
    )

    corpus = breadth13.sem_aug(spark, SF)
    reps = (
        corpus.groupBy("embedding")
        .agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id", "embedding")
    )
    idx = SIM.ivf_build(reps, n_cells=8, n_assign=3)
    got = _rows(
        breadth13.semantic_collapsed_frame(
            corpus,
            pairs_of_reps=lambda _r: SIM.semantic_dedup_pairs_fast(
                idx, threshold=breadth13._SEM_T
            ),
        )
    )
    full_idx = SIM.IvfIndex(
        SIM.ivf_assign(corpus, idx.centroids, 3), idx.centroids, 3
    )
    pairs = SIM.semantic_dedup_pairs_fast(full_idx, threshold=breadth13._SEM_T)
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )

    comp = DD.connected_components(
        pairs.select(F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b"))
    )
    j = corpus.join(
        comp.select(F.col("doc_id").alias("vec_id"), "component"),
        "vec_id",
        "left",
    )
    kept = F.when(
        F.col("component").isNotNull(), F.col("vec_id") == F.col("component")
    ).otherwise(F.lit(True))
    want = _rows(
        j.select(
            "vec_id",
            kept.alias("kept"),
            F.coalesce("component", "vec_id").cast("bigint").alias("canon_id"),
        )
    )
    assert got == want and len(got) > 0


def test_semantic_collapsed_fast_entry_drops_all_clones(spark):
    """The registered serving entry: injected unit-vector clones are
    dropped by the expansion arm regardless of the fitted codebook."""
    rows = CATALOG["ann_semantic_collapsed_fast"].fn(spark, SF).collect()
    clones = [r for r in rows if r.vec_id >= 1_000_000]
    assert clones and all(not r.kept for r in clones)
    assert {r.vec_id for r in rows} == {
        r.vec_id for r in CATALOG["ann_semantic_collapsed"].fn(spark, SF).collect()
    }


# ---------------------------------------------------------------------------
# Duplication-factor dispatch
# ---------------------------------------------------------------------------


def test_duplication_factor_measures_clone_depth(spark):
    corpus = spark.createDataFrame(
        [(i, "t" + str(i % 10)) for i in range(100)], "doc_id long, text string"
    )
    exact = DP.duplication_factor(corpus, F.col("text"), exact=True)
    assert exact == pytest.approx(10.0)
    approx = DP.duplication_factor(corpus, F.col("text"))
    assert approx == pytest.approx(10.0, rel=0.1)


def test_dispatch_routes_by_cutoff(spark):
    light = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "doc_id long, text string"
    )
    heavy = spark.createDataFrame(
        [(i, f"t{i % 5}") for i in range(50)], "doc_id long, text string"
    )
    marker = {"fast": 0, "collapsed": 0}

    def arm(name):
        def go():
            marker[name] += 1
            return light.select("doc_id")

        return go

    choice, factor, _ = DP.dispatch_by_duplication(
        light, F.col("text"), arm("fast"), arm("collapsed")
    )
    assert choice == "fast" and factor < 2.0 and marker == {"fast": 1, "collapsed": 0}
    choice, factor, _ = DP.dispatch_by_duplication(
        heavy, F.col("text"), arm("fast"), arm("collapsed")
    )
    assert choice == "collapsed" and factor >= 2.0
    assert marker == {"fast": 1, "collapsed": 1}


def test_containment_auto_routes_and_matches(spark):
    """Clone-light fixture → the fast arm, bit-exactly."""
    got = _rows(CATALOG["dedup_containment_auto"].fn(spark, SF))
    want = _rows(CATALOG["dedup_containment_canonical_fast"].fn(spark, SF))
    assert got == want and len(got) > 0


def test_minhash_auto_routes_and_matches(spark):
    got = _rows(CATALOG["dedup_minhash_auto"].fn(spark, SF))
    want = _rows(CATALOG["dedup_minhash_canonical"].fn(spark, SF))
    assert got == want and len(got) > 0


def test_semantic_auto_routes_and_matches(spark):
    got = _rows(CATALOG["ann_semantic_auto"].fn(spark, SF))
    want = _rows(CATALOG["ann_semantic_collapsed"].fn(spark, SF))
    assert got == want and len(got) > 0


def test_semantic_auto_clone_heavy_routes_collapsed(spark):
    """A factor-≈6 corpus (every vector × 6) routes to the collapsed arm
    and the dispatched output equals BOTH arms (value-equal family)."""
    base = breadth13.sem_aug(spark, SF).filter(F.col("vec_id") < 50)
    heavy = base
    for k in range(1, 6):
        heavy = heavy.unionByName(
            base.select(
                (F.col("vec_id") + 10_000_000 * k).alias("vec_id"), "embedding"
            )
        )
    factor = DP.duplication_factor(heavy, F.col("embedding"), exact=True)
    assert factor >= 2.0
    choice, _, frame = DP.dispatch_by_duplication(
        heavy,
        F.col("embedding"),
        fast=lambda: breadth13.semantic_uncollapsed_frame(heavy),
        collapsed=lambda: breadth13.semantic_collapsed_frame(heavy),
    )
    assert choice == "collapsed"
    got = _rows(frame)
    assert got == _rows(breadth13.semantic_collapsed_frame(heavy))
    assert got == _rows(breadth13.semantic_uncollapsed_frame(heavy))


def test_fuzzy_collapsed_equals_prebuilt(spark):
    """The fuzzy verdict is a pure function of (normalized text, frozen
    index), so the clone-collapsed form equals the prebuilt twin
    row-for-row — on the fixture AND on a clone-injected corpus, where
    every injected clone inherits its representative's verdict."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth11,
        breadth12 as b12,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )

    got = _rows(CATALOG["docs_decontaminate_fuzzy_collapsed"].fn(spark, SF))
    want = _rows(CATALOG["docs_decontaminate_fuzzy_prebuilt"].fn(spark, SF))
    assert got == want and len(got) > 0

    # clone arm: duplicate every flagged-candidate doc and re-run the
    # collapsed program over the augmented corpus — each clone must get
    # exactly its original's verdict
    corpus = breadth11.fd_corpus(spark, SF)
    aug = corpus.unionByName(
        corpus.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
        )
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    from pyspark.sql import Window as W

    w = W.partitionBy("_ntext")
    cn = aug.select("doc_id", "text", norm.alias("_ntext")).select(
        "doc_id", "text", F.min("doc_id").over(w).alias("_gid")
    )
    reps = cn.filter(F.col("doc_id") == F.col("_gid")).select("doc_id", "text")
    hc = DD.shingle_hashes(reps)
    bc = DD.minhash_band_keys(hc)
    hb, bb = b12.fuzzy_bench_index_for(spark, SF)
    flags = breadth11.fuzzy_flagged(hc, bc, hb, bb).withColumnRenamed(
        "doc_id", "_gid"
    )
    out = {
        r.doc_id: (r.n_bench_hits, r.best_bench_id, r.best_jaccard_u)
        for r in cn.select("doc_id", "_gid").join(flags, "_gid").collect()
    }
    base = dict(
        (d, (n, b, j)) for d, n, b, j in want
    )
    clones = {d: v for d, v in out.items() if d >= 20_000_000}
    assert clones
    for d, v in clones.items():
        assert v == base[d - 20_000_000], d
    assert {d: v for d, v in out.items() if d < 20_000_000} == base


def test_fuzzy_auto_routes_and_matches(spark):
    """Clone-light fixture → the prebuilt-program arm, equal to both the
    prebuilt twin and the collapsed governor (text-pure verdicts)."""
    got = _rows(CATALOG["docs_decontaminate_fuzzy_auto"].fn(spark, SF))
    assert got == _rows(
        CATALOG["docs_decontaminate_fuzzy_prebuilt"].fn(spark, SF)
    )
    assert got == _rows(
        CATALOG["docs_decontaminate_fuzzy_collapsed"].fn(spark, SF)
    )
    assert len(got) > 0


# ---------------------------------------------------------------------------
# r12 ADVICE hardening
# ---------------------------------------------------------------------------


def test_resume_distrusts_dir_without_success_marker(spark):
    """A stage dir that lost its parquet ``_SUCCESS`` marker (crash
    mid-overwrite after the manifest entry survived) must be recomputed,
    not resumed — and the retracted manifest entry is re-committed."""
    stages = [
        ("a", lambda sp, sf, fr: sp.range(5).withColumnRenamed("id", "x")),
        ("b", lambda sp, sf, fr: fr["a"].withColumn("y", F.col("x") * 2)),
    ]
    work = tempfile.mkdtemp(prefix="restart13_")
    try:
        RS.run_stages(spark, SF, stages, work)
        a_dir = os.path.join(work, "stage_00_a.parquet")
        os.remove(os.path.join(a_dir, "_SUCCESS"))
        _, report = RS.run_stages(spark, SF, stages, work)
        actions = {r.name: r.action for r in report}
        assert actions["a"] == "computed"
        assert actions["b"] == "resumed"
        manifest = RS.read_manifest(work)
        assert manifest["a"]["complete"] and manifest["a"]["rows"] == 5
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_restartable_workdir_reused_and_wiped(spark):
    """docs_curation_restartable reuses its registry slot across
    invocations and deletes the previous invocation's stage artifacts on
    entry (bounded /tmp, still cold-path timing); the ledger returned by
    the earlier call stays readable."""
    name = "docs_curation_restartable"
    first = CATALOG[name].fn(spark, SF)
    w1 = SJ.workdir(name, SF)
    assert os.listdir(w1)
    second = CATALOG[name].fn(spark, SF)
    w2 = SJ.workdir(name, SF)
    assert not os.path.exists(w1)
    assert os.listdir(w2)
    assert sorted(first.collect()) == sorted(second.collect())


def test_bench_round_of_skips_undigited_artifacts():
    import bench

    assert bench._round_of("/x/BENCH_LOCAL_retry.json") is None
    assert bench._round_of("/x/BENCH_LOCAL_r12.json") == 12

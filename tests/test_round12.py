"""Round-12 pins: restartable curation pipeline, fuzzy-decontamination
serving twins, padded-batch manifest.

The restartable discipline (VERDICT r11 item 5): a resumed run — one
that crashed mid-pipeline and restarted over the same work dir — must
produce the IDENTICAL funnel ledger as a single-session run, and must
not recompute the stages whose artifacts + manifest entries survived
the crash.  The twins discipline (items 4/6): prebuilt/streaming forms
equal their batch anchors row-for-row.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    CATALOG,
    breadth11,
    breadth12,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    cache as CACHE,
    restart as RS,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# Restartable curation pipeline
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def e2e_ledger(spark):
    return _rows(CATALOG["docs_curation_e2e"].fn(spark, SF))


def test_restartable_ledger_matches_e2e(spark, e2e_ledger):
    """Parquet-materialized run == localCheckpoint-materialized run."""
    got = _rows(CATALOG["docs_curation_restartable"].fn(spark, SF))
    assert got == e2e_ledger


def test_injected_failure_then_resume(spark, e2e_ledger):
    """Crash before the decontaminate stage, resume over the same work
    dir: the resumed run must (a) skip every committed stage, (b)
    compute only the missing suffix, and (c) produce the identical
    ledger."""
    work = tempfile.mkdtemp(prefix="curation_restart_test_")
    try:
        with pytest.raises(RS.StageFailure):
            RS.run_stages(
                spark, SF, breadth11.CURATION_STAGES, work, fail_before="j3"
            )
        manifest = RS.read_manifest(work)
        assert set(manifest) == {"bench", "j1", "j1x", "j2"}
        assert all(e["complete"] for e in manifest.values())

        frames, report = RS.run_stages(spark, SF, breadth11.CURATION_STAGES, work)
        actions = {r.name: r.action for r in report}
        assert actions == {
            "bench": "resumed",
            "j1": "resumed",
            "j1x": "resumed",
            "j2": "resumed",
            "j3": "computed",
            "sel": "computed",
        }
        got = _rows(breadth11.curation_ledger(frames))
        assert got == e2e_ledger
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_orphan_artifact_not_trusted(spark):
    """An artifact without a manifest commit (crash between write and
    commit) is recomputed, not resumed."""
    work = tempfile.mkdtemp(prefix="curation_restart_orphan_")
    try:
        with pytest.raises(RS.StageFailure):
            RS.run_stages(
                spark, SF, breadth11.CURATION_STAGES, work, fail_before="j1x"
            )
        # fake the crash window: stage j1x's artifact exists on disk but
        # its manifest entry is missing
        bench_df = spark.read.parquet(os.path.join(work, "stage_00_bench.parquet"))
        bench_df.limit(1).write.mode("overwrite").parquet(
            os.path.join(work, "stage_02_j1x.parquet")
        )
        _frames, report = RS.run_stages(spark, SF, breadth11.CURATION_STAGES, work)
        actions = {r.name: r.action for r in report}
        assert actions["j1x"] == "computed"  # orphan overwritten
        assert actions["bench"] == "resumed" and actions["j1"] == "resumed"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_restartable_ledger_reads_only_artifacts(spark):
    """The durable mirror of test_round11's checkpoint plan audit: every
    parquet scan in the restartable ledger's plan points at a stage
    artifact under the work dir — none at the raw corpus — so a resumed
    run can assemble the ledger without touching documents.parquet."""
    work = tempfile.mkdtemp(prefix="curation_restart_plan_")
    try:
        frames, _ = RS.run_stages(spark, SF, breadth11.CURATION_STAGES, work)
        plan = (
            breadth11.curation_ledger(frames)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "documents.parquet" not in plan, plan[:2000]
        assert "curation_restart_plan_" in plan  # artifacts ARE the leaves
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_resume_is_noop_when_complete(spark):
    """A second run over a fully-committed work dir resumes every stage
    (zero recomputation) and still assembles the full ledger."""
    work = tempfile.mkdtemp(prefix="curation_restart_noop_")
    try:
        RS.run_stages(spark, SF, breadth11.CURATION_STAGES, work)
        frames, report = RS.run_stages(spark, SF, breadth11.CURATION_STAGES, work)
        assert all(r.action == "resumed" for r in report)
        assert breadth11.curation_ledger(frames).count() >= 9
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Fuzzy decontamination serving twins
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fuzzy_anchor(spark):
    return _rows(CATALOG["docs_decontaminate_fuzzy"].fn(spark, SF))


def test_fuzzy_prebuilt_matches_anchor(spark, fuzzy_anchor):
    got = _rows(CATALOG["docs_decontaminate_fuzzy_prebuilt"].fn(spark, SF))
    assert got == fuzzy_anchor
    assert len(got) > 0  # the leaked slice guarantees flags


def test_stream_fuzzy_matches_batch(spark, fuzzy_anchor):
    """Union of per-batch ingest flags == the batch anchor, exactly —
    possible because every verdict is a pure function of (doc, frozen
    index), independent of batch placement."""
    got = _rows(CATALOG["stream_decontaminate_fuzzy"].fn(spark, SF))
    assert got == fuzzy_anchor


def test_stream_fuzzy_replay_idempotent(spark):
    """Re-invoking the streaming entry (same session, same staged dir,
    checkpoint already consumed) returns the same rows — the _batch_id
    partition-overwrite idempotence discipline."""
    a = _rows(CATALOG["stream_decontaminate_fuzzy"].fn(spark, SF))
    b = _rows(CATALOG["stream_decontaminate_fuzzy"].fn(spark, SF))
    assert a == b


def test_fuzzy_index_session_cached(spark):
    i1 = breadth12.fuzzy_bench_index_for(spark, SF)
    i2 = breadth12.fuzzy_bench_index_for(spark, SF)
    assert i1[0] is i2[0] and i1[1] is i2[1]
    assert CACHE.release("fuzzy_bench_index_for", SF) == 1
    i3 = breadth12.fuzzy_bench_index_for(spark, SF)
    assert i3[0] is not i1[0]


# ---------------------------------------------------------------------------
# Clone-collapsed containment (the sf10 scale lesson)
# ---------------------------------------------------------------------------


def test_containment_collapsed_equals_fast_on_distinct_corpus(spark):
    """On a clone-free corpus (the sf0.001 fixture: 500 docs, 500
    distinct normalized texts) the collapse is the identity, dfs are
    unchanged, and the collapsed twin must equal canonical_fast
    row-for-row.  The clone arm is value-oracled at scale by the sf1
    soak row (the 10-copy corpus makes every text a 10-clique)."""
    fast = _rows(CATALOG["dedup_containment_canonical_fast"].fn(spark, SF))
    got = _rows(CATALOG["dedup_containment_collapsed"].fn(spark, SF))
    assert got == fast
    assert len(got) > 0


def test_containment_collapsed_clone_arm(spark):
    """Constructed clone corpus (every even doc gains an exact clone at
    +9,000,000) through the REAL program
    (breadth12.containment_collapsed_frame).  Pins the expansion arm:
    every clone-group member is reported contained at u == 1,000,000;
    a non-representative member's sup is its representative (the group
    min) unless a rep-level u == 1,000,000 covering has a smaller id;
    the representative's sup is the second member under the same rule;
    and singleton rows carry their rep-level verdict unchanged."""
    from pyspark.sql import functions as F

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.breadth8 import (  # noqa: E501
        _ct_corpus,
    )

    corpus = _ct_corpus(spark, SF)
    clones = corpus.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"), "lang", "text"
    )
    out = {
        r.id_sub: r
        for r in breadth12.containment_collapsed_frame(
            corpus.unionByName(clones)
        ).collect()
    }
    clone_ids = [r.doc_id for r in clones.select("doc_id").collect()]
    assert clone_ids
    for cid in clone_ids:
        orig = cid - 9_000_000
        # both clique members are contained at full containment
        for member, partner in ((cid, orig), (orig, cid)):
            row = out.get(member)
            assert row is not None, f"clone member {member} missing"
            assert row.containment_u == 1_000_000
            assert row.n_shared == row.n_sub_shingles
            # sup is the in-group partner, or a full covering with a
            # smaller id than the partner
            assert row.id_sup == partner or row.id_sup < partner


# ---------------------------------------------------------------------------
# Clone-collapsed minhash canonical
# ---------------------------------------------------------------------------


def test_minhash_canonical_equals_anchor_argmax(spark):
    """Banding is a pure function of text, so the collapsed form must
    EQUAL the argmax-collapse (max jaccard, ties to smallest id, both
    directions) of the anchor's full pair list — the collapse changes
    the work, not the answer.  The aug corpus's built-in clones (every
    10th doc duplicated) make this pin exercise the clone arm too."""
    anchor = CATALOG["dedup_minhash_lsh"].fn(spark, SF).collect()
    best: dict[int, tuple[float, int]] = {}
    for r in anchor:
        for me, mt in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            cur = best.get(me)
            cand = (-r.jaccard, mt)
            if cur is None or cand < cur:
                best[me] = cand
    expected = sorted(
        (me, mt, -negj) for me, (negj, mt) in best.items()
    )
    got = sorted(
        (r.doc_id, r.match_id, r.jaccard)
        for r in CATALOG["dedup_minhash_canonical"].fn(spark, SF).collect()
    )
    assert got == expected
    assert len(got) > 0


# ---------------------------------------------------------------------------
# Padded-batch manifest
# ---------------------------------------------------------------------------


def test_padded_manifest_consistent_with_stats(spark):
    """The manifest shares identity and counts with docs_padded_batches:
    same (bucket, shard, batch_ix) keys, same n_docs/batch_max_len, and
    each doc-id list's length equals its batch's n_docs with no id
    repeated across the whole manifest."""
    stats = {
        (r.bucket, r.shard, r.batch_ix): (r.n_docs, r.batch_max_len)
        for r in CATALOG["docs_padded_batches"].fn(spark, SF).collect()
    }
    manifest = CATALOG["docs_padded_batch_manifest"].fn(spark, SF).collect()
    assert {(r.bucket, r.shard, r.batch_ix) for r in manifest} == set(stats)
    seen: set[str] = set()
    for r in manifest:
        ids = r.doc_ids.split(",")
        assert len(ids) == r.n_docs
        assert (r.n_docs, r.batch_max_len) == stats[(r.bucket, r.shard, r.batch_ix)]
        assert not (set(ids) & seen)  # a doc belongs to exactly one batch
        seen.update(ids)


def test_padded_manifest_partitioning_independent(spark):
    """Batch membership and order are a pure function of the data: the
    manifest is identical when the corpus arrives repartitioned."""
    from pyspark.sql import functions as F

    base = _rows(CATALOG["docs_padded_batch_manifest"].fn(spark, SF))
    # recompute the manifest from a differently-partitioned ranked frame
    shuffled = breadth11.padded_ranked(spark, SF).repartition(13, "shard")
    got = (
        shuffled.groupBy(
            "bucket", "shard", F.expr("(rn - 1) DIV 8").alias("batch_ix")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("doc_ids")
        )
    )
    got_map = {
        (r2.bucket, r2.shard, r2.batch_ix): r2.doc_ids for r2 in got.collect()
    }
    base_map = {(b, s, ix): d for (b, s, ix, _n, _m, d) in base}
    assert got_map == base_map

"""Round-7 additions: the engine-stable integer quality surface
(quality_score_exact / quality_u), the machine-readable twin registry
(QuerySpec.twin_of / twin_pin), and the driver-hashable media_resize
catalog surface.  Oracle parity for the converted entries is covered by
test_oracle_parity; these tests pin what the oracles can't express —
the float-twin agreement bound, the hand-computed micro-unit formula,
and registry integrity."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.functions import (  # noqa: E501
    textfns as TF,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    text as TX,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    catalog,
)

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# Integer micro-unit quality surface
# ---------------------------------------------------------------------------


def _quality_u_py(text: str) -> tuple[int, int, int, int]:
    """Independent Python-int reimplementation of the micro-unit formula
    (round_half_up(p/q) = (2p+q)//(2q)); returns (n, alpha_u, stop_u, qu)."""
    toks = re.split(r"\s+", text.strip().lower())
    L = max(len(text), 1)
    N = max(len(toks), 1)
    A = len(re.sub(r"[^A-Za-z ]", "", text))
    S = sum(1 for t in toks if t in TF.STOPWORDS_EN)
    alpha_u = (2_000_000 * A + L) // (2 * L)
    stop_u = (2_000_000 * S + N) // (2 * N)
    qu = min(L, 500) * 2000 + alpha_u + stop_u + min(N, 100) * 10000
    return N, alpha_u, stop_u, qu


def test_quality_score_exact_handcomputed(spark):
    """'The cat sat on the mat.' — every moment verified against plain
    Python integer arithmetic, including the half-up tie behavior."""
    text = "The cat sat on the mat."
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    r = TX.quality_score_exact(df).collect()[0]
    n, alpha_u, stop_u, qu = _quality_u_py(text)
    assert (r.n_tokens, r.alpha_ratio_u, r.stopword_ratio_u, r.quality_u) == (
        n, alpha_u, stop_u, qu,
    )
    # spot half-up ties: 1/8 of 1e6 = exact; 1/3 truncates to ...333;
    # 1/2 rounds the .5 tie UP
    assert (2 * 1 * 1_000_000 + 8) // (2 * 8) == 125_000
    assert (2 * 1 * 1_000_000 + 3) // (2 * 3) == 333_333
    assert (2 * 1 * 1_000_000 + 2_000_000) // (2 * 2_000_000) == 1


def test_quality_exact_twin_tracks_float(spark):
    """quality_u / 4e6 agrees with the float quality_score to within one
    half micro-unit per term (4 terms x 0.5/4e6 = 5e-7) over the whole
    smoke corpus — the documented twin bound."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    joined = (
        TX.quality_score_exact(docs)
        .select("doc_id", "quality_u")
        .join(TX.quality_score(docs).select("doc_id", "quality"), "doc_id")
        .select(
            F.max(
                F.abs(F.col("quality") - F.col("quality_u") / F.lit(4e6))
            ).alias("max_diff")
        )
        .collect()[0]
    )
    assert joined.max_diff <= 5.01e-7, joined.max_diff


def test_quality_exact_all_python_parity(spark):
    """Whole-corpus parity with the independent Python-int formula —
    pins the Spark expression (DIV, greatest guards, least clamps)
    bit-for-bit, the same way the DuckDB oracle pins the SQL side."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = TX.quality_score_exact(docs).join(
        docs.select("doc_id", "text"), "doc_id"
    ).collect()
    assert rows
    for r in rows:
        n, alpha_u, stop_u, qu = _quality_u_py(r.text)
        assert (
            r.n_tokens, r.alpha_ratio_u, r.stopword_ratio_u, r.quality_u
        ) == (n, alpha_u, stop_u, qu), r.doc_id


def test_canonical_best_surface_is_integer(spark):
    """The r7 hardening contract: dedup_canonical_best hashes (and ranks
    on) BIGINT quality_u — no float column anywhere on the surface."""
    df = catalog.CATALOG["dedup_canonical_best"].fn(spark, SF_SMOKE)
    dtypes = dict(df.dtypes)
    assert dtypes == {"doc_id": "bigint", "quality_u": "bigint"}, dtypes


# ---------------------------------------------------------------------------
# Twin registry (QuerySpec.twin_of / twin_pin)
# ---------------------------------------------------------------------------


def test_twin_registry_integrity():
    """Every twin_of names a registered entry (never itself), every
    twin_pin points at an existing test function in an existing file,
    and the known production twins are all annotated."""
    twins = {
        n: s for n, s in catalog.CATALOG.items() if s.twin_of is not None
    }
    expected = {
        "ann_cosine_topk_fast",
        "ann_ivfpq_topk",
        "stream_checksum_mv",
        "media_phash_near_pairs",
        "ann_semantic_canonical_fast",
        "dedup_minhash_fast",
        "docs_quality_deciles_approx",
        "events_value_outliers_mad_approx",
        "events_active_users_approx",
        "orders_profile_approx",
        "ml_timely_lr_lift_approx",
        "dedup_incremental_bloom",
        "dedup_incremental_minhash_prebuilt",
        "ann_ivf_prebuilt_topk",
        "ann_semantic_dedup_incremental",
        "ml_lda_topics",
        "stream_phash_dedup",  # r8: streaming twin of media_phash_dedup
        # r9: prebuilt containment serving twin + oracled streaming
        # span-decontamination twin
        "dedup_incremental_containment_prebuilt",
        "stream_substring_decontaminate",
        "stream_bot_users",  # r9: streaming twin of events_bot_users
        "stream_quality_classifier",  # r10: model-serving streaming twin
        "docs_dsir_score_batch",  # r10: DSIR serving twin (prebuilt dim)
        # r10: best-cover output governor for the all-pairs anchor
        "dedup_containment_canonical",
        # r10b: candidate-scoring governor on top of the canonical pick
        "dedup_containment_canonical_fast",
        # r10b: CCNet serving split (prebuilt LM dims + frozen cuts)
        "stream_ref_perplexity",
        # r10b: stateful streaming CUSUM with a full value oracle
        "stream_cusum_drift",
        # r11: clone-collapse serving twin for the edit-distance anchor
        "dedup_edit_distance_canonical",
        # r11: curation funnel gate stages served at ingest (frozen dims)
        "stream_curation_e2e",
        # r12: durable-checkpoint twin of the curation funnel
        "docs_curation_restartable",
        # r12: fuzzy decontamination serving pair (frozen benchmark index)
        "docs_decontaminate_fuzzy_prebuilt",
        "stream_decontaminate_fuzzy",
        # r12: per-batch ordered doc-id manifest of the padded batches
        "docs_padded_batch_manifest",
        # r12: clone-collapse governor for the containment family (the
        # sf10 clone-quadratic finding)
        "dedup_containment_collapsed",
        # r12: clone-collapse governor for the minhash family (same
        # finding; pinned equal to the anchor's argmax-collapse)
        "dedup_minhash_canonical",
        # r13: the semantic family's clone-collapse governor pair
        "ann_semantic_collapsed",
        "ann_semantic_collapsed_fast",
        # r13: duplication-factor dispatchers (fast vs collapsed arms)
        "ann_semantic_auto",
        "dedup_containment_auto",
        "dedup_minhash_auto",
        # r13: clone-collapse governor for the fuzzy-decontamination
        # family (verdict is a pure function of text vs the frozen
        # index, so the anchor's oracle covers it verbatim)
        "docs_decontaminate_fuzzy_collapsed",
        "docs_decontaminate_fuzzy_auto",
    }
    assert set(twins) == expected, set(twins) ^ expected
    for name, spec in twins.items():
        assert spec.twin_of in catalog.CATALOG, (name, spec.twin_of)
        assert spec.twin_of != name
        assert spec.twin_pin, name
        path, sep, func = spec.twin_pin.partition("::")
        assert sep and func, spec.twin_pin
        full = os.path.join(REPO, path)
        assert os.path.exists(full), spec.twin_pin
        src = open(full).read()
        assert f"def {func}(" in src, spec.twin_pin


def test_queries_md_carries_twin_column():
    """QUERIES.md (generated by tools/catalog_index.py) must link every
    annotated twin to its anchor in the `twin of` column."""
    md = open(os.path.join(REPO, "QUERIES.md")).read()
    for name, spec in catalog.CATALOG.items():
        if spec.twin_of:
            pat = rf"\| `{name}` \| [a-z-]+ \| `{spec.twin_of}` \|"
            assert re.search(pat, md), (name, spec.twin_of)


# ---------------------------------------------------------------------------
# r7 breadth: split-aware sequence packing + MW domain reweighting
# ---------------------------------------------------------------------------


def test_pack_sequences_handcomputed(spark):
    """3/5/6-token docs at seq_len=4: the token stream is cut every 4
    tokens, docs straddle boundaries, spans are exact."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        pipeline as PL,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g h"), (3, "i j k l m n")],
        "doc_id: long, text: string",
    )
    rows = {r.seq_id: r for r in PL.pack_sequences(docs, seq_len=4).collect()}
    # stream: doc1 [0,3) doc2 [3,8) doc3 [8,14); cuts at 4, 8, 12
    assert rows[0].segments == "1:0-3,2:3-4"
    assert rows[1].segments == "2:0-4"
    assert rows[2].segments == "3:0-4"
    assert rows[3].segments == "3:0-2"
    assert [rows[i].n_tokens for i in range(4)] == [4, 4, 4, 2]
    assert [rows[i].n_segments for i in range(4)] == [2, 1, 1, 1]


def test_pack_sequences_invariants(spark):
    """Corpus-wide: every sequence but the last is exactly full; token
    mass is conserved; each sequence's spans tile [0, n_tokens) without
    gap or overlap; the two-phase prefix sum equals the naive global
    window."""
    from pyspark.sql import Window

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        pipeline as PL,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = PL.pack_sequences(docs, seq_len=128).collect()
    assert all(r.n_tokens == 128 for r in rows[:-1]) and rows[-1].n_tokens <= 128
    total = docs.select(
        F.sum(F.size(TF.tokens("text"))).cast("bigint")
    ).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == total
    for r in rows:
        spans = [
            tuple(map(int, seg.split(":")[1].split("-")))
            for seg in r.segments.split(",")
        ]
        assert spans[0][0] == 0
        for (a, b), (c, d) in zip(spans, spans[1:]):
            assert b == c, r
        assert spans[-1][1] == r.n_tokens
    # naive global-window replay of the doc intervals
    naive = (
        docs.select(
            "doc_id", F.size(TF.tokens("text")).cast("bigint").alias("nt")
        )
        .filter(F.col("nt") >= 1)
        .withColumn(
            "cum",
            F.sum("nt").over(
                Window.orderBy("doc_id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .collect()
    )
    first_doc_of_seq = {}
    for n in naive:
        s = (n.cum - n.nt) // 128
        first_doc_of_seq.setdefault(s, n.doc_id)
    for r in rows:
        lead = int(r.segments.split(",")[0].split(":")[0])
        if r.seq_id in first_doc_of_seq:
            # the sequence's first NEW doc; a straddler from the previous
            # sequence may still open it
            assert lead <= first_doc_of_seq[r.seq_id]


def test_domain_reweight_python_parity(spark):
    """Full integer-parity with an independent Python reimplementation of
    the MW trajectory (moments from _quality_u_py), including the
    per-iteration weighted-average interaction."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        pipeline as PL,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {r.source: r for r in PL.domain_reweight_mw(docs).collect()}

    texts = docs.select("source", "text").collect()
    agg: dict[str, list[int]] = {}
    for r in texts:
        qu = _quality_u_py(r.text)[3]
        n, s = agg.get(r.source, (0, 0))
        agg[r.source] = (n + 1, s + qu)

    def rhu(p: int, q: int) -> int:
        return (2 * p + q) // (2 * q)

    mloss = {g: rhu(4_000_000 * n - s, n) for g, (n, s) in agg.items()}
    w = {g: 1_000_000 for g in mloss}
    hist = {g: [] for g in mloss}
    for _ in range(3):
        avg = rhu(sum(w[g] * mloss[g] for g in w), sum(w.values()))
        for g in w:
            ex = max(mloss[g] - avg, 0)
            w[g] = rhu(w[g] * (1_000_000 + (ex + 1) // 2), 1_000_000)
            hist[g].append(w[g])
    assert set(got) == set(mloss)
    for g in mloss:
        assert got[g].n_docs == agg[g][0]
        assert got[g].mloss_u == mloss[g], g
        assert (got[g].w1, got[g].w2, got[g].w3) == tuple(hist[g]), g
    # MW sanity: some domain was actually up-weighted, and none shrank
    assert any(v.w3 > 1_000_000 for v in got.values())
    assert all(v.w3 >= v.w2 >= v.w1 >= 1_000_000 for v in got.values())


# ---------------------------------------------------------------------------
# PQ-ADC (product quantization, inner-product flavor)
# ---------------------------------------------------------------------------


def test_pq_codes_shape_and_determinism(spark):
    """Every vector gets exactly m codes, each cid < k; codebook vectors
    reconstruct themselves (a codebook member's code in each subspace is
    a centroid with an equal-or-better dot than its own — for unit-ish
    random vectors its OWN subvector wins or ties)."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        similarity as SIM,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cb = SIM.pq_codebook(emb, m=8, k=16)
    assert cb.count() == 8 * 16
    codes = SIM.pq_assign_codes(emb, cb, m=8)
    n_vec = emb.count()
    assert codes.count() == n_vec * 8
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == 8 for r in per_vec)
    assert codes.filter((F.col("cid") < 0) | (F.col("cid") >= 16)).count() == 0
    # determinism: two independent builds agree exactly
    again = SIM.pq_assign_codes(emb, cb, m=8)
    assert codes.exceptAll(again).count() == 0


def test_ivfpq_consistent_with_full_scan_adc(spark):
    """IVF-PQ is full-scan PQ-ADC under a cell filter: every pair it
    returns must carry EXACTLY the full-scan ADC score for that pair
    (same codes, same lookup tables — the decimal path makes this an
    equality, not a tolerance), and its result set must be a subset of
    the candidate pairs the probed cells admit."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        similarity as SIM,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.text_queries import (  # noqa: E501
        ivf_index_for,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    full = {
        (r.probe_id, r.neighbor_id): r.adc_score
        for r in SIM.pq_adc_topk(emb, probes, m=8, k_codebook=16, k=n).collect()
    }
    idx = ivf_index_for(spark, SF_SMOKE)
    got = SIM.ivfpq_topk(idx, probes, m=8, k_codebook=16, k=5).collect()
    assert got, "ivfpq returned rows"
    for r in got:
        key = (r.probe_id, r.neighbor_id)
        assert key in full
        assert r.adc_score == full[key], (key, r.adc_score, full[key])


def test_ivfpq_recall_floor(spark):
    """Same 10x-chance floor as the full-scan ADC entry — the cell filter
    must not destroy what little signal the sampled codebook keeps."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        similarity as SIM,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, probes, k=5)
    pred = catalog.CATALOG["ann_ivfpq_topk"].fn(spark, SF_SMOKE)
    rec = (
        SIM.recall_at_k(pred, exact, k=5)
        .agg(F.avg("recall").alias("r"))
        .collect()[0]["r"]
    )
    assert rec >= 0.10, rec


def test_reweighted_sample_realizes_mixture(spark):
    """The apply step must move the realized mixture TOWARD the optimized
    weights: for every pair of sources, if source A got a strictly
    larger weight than B but had the same corpus count, A must not keep
    a smaller expected fraction (keep_frac monotone in weight for equal
    counts); and each source's kept count must be within a loose
    binomial envelope of keep_frac * n_total."""
    rows = catalog.CATALOG["docs_reweighted_sample"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_count: dict[int, list] = {}
    for r in rows:
        assert 0.0 < r.keep_frac <= 1.0
        # binomial envelope: mean +- 5 sd + slack
        mean = r.keep_frac * r.n_total
        sd = (r.n_total * r.keep_frac * (1 - r.keep_frac)) ** 0.5
        assert abs(r.n_kept - mean) <= 5 * sd + 3, (r.source, r.n_kept, mean)
        by_count.setdefault(r.n_total, []).append(r)
    for grp in by_count.values():
        grp.sort(key=lambda r: r.mix_weight)
        for lo, hi in zip(grp, grp[1:]):
            assert hi.keep_frac >= lo.keep_frac, (lo, hi)


def test_pq_adc_recall_floor(spark):
    """ADC top-5 must beat chance decisively on the fixture: random
    embeddings are PQ's worst case (near-orthogonal, no cluster
    structure for the sampled codebook to exploit), and chance recall@5
    is 5/(n-1) ~ 0.01 at sf0.001 — the pin is 10x chance.  On real
    clustered embeddings a trained codebook does far better; this floor
    guards the plumbing (codes, LUT, ADC sum), not index quality."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        similarity as SIM,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, probes, k=5)
    pq = catalog.CATALOG["ann_pq_adc_topk"].fn(spark, SF_SMOKE)
    rec = (
        SIM.recall_at_k(pq, exact, k=5)
        .agg(F.avg("recall").alias("r"))
        .collect()[0]["r"]
    )
    assert rec >= 0.10, rec


# ---------------------------------------------------------------------------
# Confusion-matrix artifact export (reference literal parity: the two
# driver-side heatmap scripts desicion_tree_confusion_matrix.py /
# random_forest_confusion_matrix.py hand-transcribe an 8x8 matrix; the
# engine computes and exports it)
# ---------------------------------------------------------------------------


def test_confusion_matrix_export_golden(spark, tmp_path):
    """The computed 8x8 matrix must equal the committed golden CSV on the
    deterministic sf0.001 prediction fixture, row and column order
    included; the CSV written by the export must round-trip to the same
    frame."""
    import pandas as pd

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        metrics as M,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        _RESPONSE_CLASSES,
        _preds,
    )

    out = str(tmp_path / "confusion.csv")
    pdf = M.confusion_matrix_export(
        _preds(spark, SF_SMOKE),
        "company_response",
        "response_pred",
        classes=[v for v, _ in _RESPONSE_CLASSES],
        csv_path=out,
    )
    golden = pd.read_csv(
        os.path.join(REPO, "tests", "golden", "confusion_8class_sf0001.csv"),
        index_col=0,
    )
    assert pdf.shape == (8, 8)
    assert list(pdf.index) == list(golden.index)
    assert list(pdf.columns) == list(golden.columns)
    assert (pdf.to_numpy() == golden.to_numpy()).all()
    written = pd.read_csv(out, index_col=0)
    assert (written.to_numpy() == golden.to_numpy()).all()
    # total mass = every cleaned complaint, once
    assert int(pdf.to_numpy().sum()) == _preds(spark, SF_SMOKE).count()


def test_confusion_matrix_export_heatmap_strict(spark, tmp_path):
    """Requesting the heatmap without matplotlib must fail loudly (the
    multimodal-codec strict posture), after still writing the CSV."""
    import pytest

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        metrics as M,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        _preds,
    )

    try:
        import matplotlib  # noqa: F401

        pytest.skip("matplotlib present; heatmap path would render")
    except ImportError:
        pass
    out = str(tmp_path / "cm.csv")
    with pytest.raises(NotImplementedError, match="matplotlib"):
        M.confusion_matrix_export(
            _preds(spark, SF_SMOKE),
            "company_response",
            "response_pred",
            csv_path=out,
            heatmap_path=str(tmp_path / "cm.png"),
        )
    assert os.path.exists(out), "CSV must be written before the plot gate"


# ---------------------------------------------------------------------------
# media_resize_images driver surface
# ---------------------------------------------------------------------------


def test_media_resize_catalog_surface_is_hashable(spark):
    """The catalog entry must emit only scalar columns (the r6 driver row
    errored hashing the raw tensor), with the checksum consistent with
    the raw operator tensor."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        multimodal as MM,
    )

    df = catalog.CATALOG["media_resize_images"].fn(spark, SF_SMOKE)
    for _, dtype in df.dtypes:
        assert not dtype.startswith("array"), df.dtypes
    rows = {r.media_id: r for r in df.collect()}
    assert rows
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    raw = MM.resize_images(MM.media_table(docs), width=8, height=8)
    for r in raw.limit(5).collect():
        cat = rows[r.media_id]
        assert cat.n_pixels == len(r.pixels) == 64
        assert abs(cat.px_checksum - sum(r.pixels)) <= 5e-7


# ---------------------------------------------------------------------------
# r7 part 2: eval pack (calibration / threshold sweep), epoch shuffle,
# PQ offline-artifact cache
# ---------------------------------------------------------------------------


def test_lr_calibration_table(spark):
    """Mechanical invariants of the reliability table: bins partition the
    test split, each bin's mean prediction lies inside the bin, and the
    n-weighted ECE stays sane on the pinned-seed fixture model."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.ml_queries import (  # noqa: E501
        _lr_scored,
    )

    rows = (
        catalog.CATALOG["ml_timely_lr_calibration"].fn(spark, SF_SMOKE).collect()
    )
    assert rows and all(0 <= r.bin <= 9 for r in rows)
    total = _lr_scored(spark, SF_SMOKE).count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        lo, hi = r.bin / 10.0, 1.0 if r.bin == 9 else (r.bin + 1) / 10.0
        assert lo - 1e-6 <= r.mean_pred <= hi + 1e-6, r
        assert 0.0 <= r.frac_pos <= 1.0
        assert abs(r.abs_gap - abs(r.mean_pred - r.frac_pos)) <= 2e-6
    ece = sum(r.n * r.abs_gap for r in rows) / total
    assert ece <= 0.35, ece


def test_lr_threshold_sweep_matches_direct_filters(spark):
    """The one-pass histogram sweep must equal the naive per-threshold
    filter computation EXACTLY (the identity {cell >= k} = {p1 >= k/20}
    is what makes the single-scan formulation correct), and the curve
    must behave: tp+fn constant, recall nonincreasing in threshold."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.ml_queries import (  # noqa: E501
        _lr_scored,
    )

    table = {
        r.threshold: r
        for r in catalog.CATALOG["ml_timely_lr_threshold_sweep"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert len(table) == 19
    scored = _lr_scored(spark, SF_SMOKE)
    n_all = scored.count()
    n_pos = scored.filter(F.col("y") == 1.0).count()
    for t in (0.25, 0.5, 0.75):
        tp = scored.filter((F.col("p1") >= t) & (F.col("y") == 1.0)).count()
        pp = scored.filter(F.col("p1") >= t).count()
        r = table[t]
        assert (r.tp, r.fp, r.fn, r.tn) == (
            tp, pp - tp, n_pos - tp, n_all - n_pos - (pp - tp),
        ), t
    ordered = [table[k] for k in sorted(table)]
    assert all(r.tp + r.fn == n_pos for r in ordered)
    assert all(
        a.recall >= b.recall - 1e-9 for a, b in zip(ordered, ordered[1:])
    )


def test_epoch_shuffle_covers_decorrelates_and_replays(spark):
    """Each epoch is a complete pass (every doc exactly once); epochs
    don't correlate shard assignment beyond the 1/n_shards chance rate;
    and the whole shuffle is deterministic across invocations."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        layout as LY,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    sh = LY.epoch_shuffle(docs, n_epochs=2, n_shards=8).cache()
    per = sh.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("d"),
    ).collect()
    assert {r.epoch for r in per} == {0, 1}
    assert all(r.n == n and r.d == n for r in per)
    again = LY.epoch_shuffle(docs, n_epochs=2, n_shards=8)
    assert sh.exceptAll(again).count() == 0
    assert again.exceptAll(sh).count() == 0
    e0 = sh.filter("epoch = 0").select("doc_id", F.col("shard_id").alias("s0"))
    e1 = sh.filter("epoch = 1").select("doc_id", F.col("shard_id").alias("s1"))
    same = e0.join(e1, "doc_id").filter("s0 = s1").count()
    assert same / n < 0.35, same / n  # 1/8 chance + fixture slack
    sh.unpersist()


def test_pq_artifacts_cached_and_values_unchanged(spark):
    """pq_artifacts_for memoizes (same frame object back), and the
    cached-serving catalog entry returns exactly what an inline
    cold-build pq_adc_topk returns — caching is a lifecycle change,
    never a value change."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        similarity as SIM,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        cache as CACHE,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth7 as B7,
    )

    CACHE.release("pq_artifacts_for")
    cb1, codes1 = B7.pq_artifacts_for(spark, SF_SMOKE)
    _cb2, codes2 = B7.pq_artifacts_for(spark, SF_SMOKE)
    assert codes1 is codes2
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    inline = SIM.pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), m=8, k_codebook=16, k=5
    )
    served = catalog.CATALOG["ann_pq_adc_topk"].fn(spark, SF_SMOKE)
    assert served.exceptAll(inline).count() == 0
    assert inline.exceptAll(served).count() == 0
    assert CACHE.release("pq_artifacts_for", (SF_SMOKE, 8, 16)) == 1


def test_concurrency_sweep_hand_fixture(spark):
    """Hand-computed sweep: touching intervals count as concurrent
    (inclusive ends), a cross-day interval contributes to both days'
    baselines, and peak_ts is the earliest instant attaining the max."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        windows as W,
    )

    iv = spark.createDataFrame(
        [
            # day 1: A[01:00,02:00], B[02:00,03:00] touch -> concurrent 2
            (1, "2024-01-01 01:00:00", "2024-01-01 02:00:00"),
            (2, "2024-01-01 02:00:00", "2024-01-01 03:00:00"),
            # C straddles midnight: open during all of day-2's D,E
            (3, "2024-01-01 23:00:00", "2024-01-02 04:00:00"),
            # day 2: D[01:00,03:00], E[02:00,02:30] + C -> 3 at 02:00
            (4, "2024-01-02 01:00:00", "2024-01-02 03:00:00"),
            (5, "2024-01-02 02:00:00", "2024-01-02 02:30:00"),
        ],
        "id: long, s: string, e: string",
    ).select(
        F.col("id"),
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    rows = {
        str(r.day): r
        for r in W.concurrency_sweep(iv, "s", "e").collect()
    }
    d1, d2 = rows["2024-01-01"], rows["2024-01-02"]
    assert d1.max_concurrent == 2
    assert str(d1.peak_ts) == "2024-01-01 02:00:00"
    assert (d1.n_started, d1.n_ended) == (3, 2)
    assert d2.max_concurrent == 3
    assert str(d2.peak_ts) == "2024-01-02 02:00:00"
    assert (d2.n_started, d2.n_ended) == (2, 3)


def test_partition_checksum_detects_mutation_and_ignores_order(spark):
    """The checksum must be invariant to row order / partitioning and
    sensitive to a single-row key mutation, with the blast radius
    confined to the mutated row's partition."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        catalog,
    )

    fn = catalog.CATALOG["orders_partition_checksums"].fn
    base = {r.month: (r.n_rows, r.checksum) for r in fn(spark, SF_SMOKE).collect()}
    assert base

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    # order/partitioning invariance: same rows, violently rearranged
    shuffled = orders.repartition(7, "o_custkey").sortWithinPartitions(
        F.desc("o_totalprice")
    )
    import consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.breadth7 as B7  # noqa: E501

    def checksum_of(df):
        key = F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit("|"),
            F.col("o_orderstatus"),
            F.lit("|"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
        v = (
            F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("bigint")
            % F.lit(B7._CK_MOD)
        )
        return {
            r.month: (r.n_rows, r.checksum)
            for r in df.select(
                F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                v.alias("_v"),
            )
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.sum(F.col("_v").cast("decimal(38,0)")) % F.lit(B7._CK_MOD))
                .cast("bigint")
                .alias("checksum"),
            )
            .collect()
        }

    assert checksum_of(shuffled) == base
    # single-row mutation: flip one order's status
    victim = orders.orderBy("o_orderkey").first()
    vmonth = victim.o_orderdate.strftime("%Y-%m")
    mutated = orders.withColumn(
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") == victim.o_orderkey, F.lit("~TAMPERED~")
        ).otherwise(F.col("o_orderstatus")),
    )
    after = checksum_of(mutated)
    assert after[vmonth][1] != base[vmonth][1]
    assert {m: c for m, c in after.items() if m != vmonth} == {
        m: c for m, c in base.items() if m != vmonth
    }


def test_stream_checksum_mv_equals_batch_fold(spark):
    """Mergeability proof: three micro-batches' modular partial
    checksums, merged incrementally, must equal the from-scratch batch
    fold over the whole table."""
    import consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.breadth7 as B7  # noqa: E501

    streamed = {
        r.month: (r.n_rows, r.checksum)
        for r in catalog.CATALOG["stream_checksum_mv"].fn(spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    key = F.concat(
        F.col("event_id").cast("string"),
        F.lit("|"),
        F.col("event_type"),
        F.lit("|"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    v = (
        F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("bigint")
        % F.lit(B7._CK_MOD)
    )
    batch = {
        r.month: (r.n_rows, r.checksum)
        for r in ev.select(
            F.date_format("ts", "yyyy-MM").alias("month"), v.alias("_v")
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.sum(F.col("_v").cast("decimal(38,0)")) % F.lit(B7._CK_MOD))
            .cast("bigint")
            .alias("checksum"),
        )
        .collect()
    }
    assert streamed == batch and streamed


def test_stream_checksum_mv_full_redelivery_idempotent(spark):
    """Crash-replay discipline end-to-end: redelivering ALL batches with
    a fresh checkpoint over the existing state dir rewrites every
    version from its predecessors byte-identically — the final state
    must not double-fold."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
        jobs as SJ,
    )

    before = catalog.CATALOG["stream_checksum_mv"].fn(spark, SF_SMOKE).collect()
    work = SJ.workdir("stream_checksum_mv", SF_SMOKE)
    schema = spark.read.parquet(f"{work}/batches").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/batches")
    )
    SJ.run_streaming_checksum_mv(
        stream, f"{work}/state", f"{work}/ckpt_replay"
    )
    after = catalog.CATALOG["stream_checksum_mv"].fn(spark, SF_SMOKE).collect()
    assert before == after


def test_replica_reconcile_finds_exactly_the_damage(spark):
    """The two-phase reconcile must surface exactly the injected
    divergence — every damaged key, no false positives — proving the
    checksum phase loses nothing the drill-down phase needs."""
    rows = catalog.CATALOG["orders_replica_reconcile"].fn(spark, SF_SMOKE).collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    expected = {
        r.o_orderkey for r in orders.filter("o_orderkey % 997 = 0").collect()
    }
    assert {r.o_orderkey for r in rows} == expected and expected
    assert all(r.status_right == "X" and r.status_left != "X" for r in rows)


def test_concurrency_sweep_densifies_covered_days(spark):
    """A day lying entirely inside a long interval must still get a row
    (carried concurrency, peak at midnight) — the r7 review finding."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        windows as W,
    )

    iv = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "2024-01-03 10:00:00")],
        "id: long, s: string, e: string",
    ).select(
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    rows = {str(r.day): r for r in W.concurrency_sweep(iv, "s", "e").collect()}
    assert set(rows) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    mid = rows["2024-01-02"]
    assert mid.max_concurrent == 1
    assert str(mid.peak_ts) == "2024-01-02 00:00:00"
    assert (mid.n_started, mid.n_ended) == (0, 0)


def test_epoch_shuffle_supports_many_shards(spark):
    """The shard fold uses a 52-bit key prefix, so n_shards > 16 (and
    non-divisors of 16) are all populated and balanced — the r7 review
    finding (single hex digit capped shards at 16)."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        layout as LY,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sh = LY.epoch_shuffle(docs, n_epochs=1, n_shards=32)
    counts = {
        r.shard_id: r.n
        for r in sh.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(counts) == set(range(32)), sorted(counts)
    n = docs.count()
    assert max(counts.values()) <= 4 * n / 32  # loose balance bound


def test_stream_late_data_audit_exact_drop_set(spark):
    """The watermark audit's contract: across checkpoint-sharing runs,
    the 7 late probes contribute NOTHING to the sink and the 7 on-time
    probes are fully counted — exact, not approximate."""
    rows = {
        r.event_type: r
        for r in catalog.CATALOG["stream_late_data_audit"].fn(spark, SF_SMOKE).collect()
    }
    late, ontime = rows["late_probe"], rows["ontime_probe"]
    assert (late.n_injected, late.n_streamed, late.n_dropped_late) == (7, 0, 7)
    assert (ontime.n_injected, ontime.n_streamed, ontime.n_dropped_late) == (
        7, 7, 0,
    )


def test_cluster_size_stats_conservation(spark):
    """Histogram conservation: sum of per-size doc counts plus singleton
    docs equals the augmented corpus, and redundant counts are exactly
    (size-1)*clusters."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.text_queries import (  # noqa: E501
        _aug,
    )

    rows = catalog.CATALOG["dedup_cluster_size_stats"].fn(spark, SF_SMOKE).collect()
    assert rows and all(r.cluster_size >= 2 for r in rows)
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.n_redundant == (r.cluster_size - 1) * r.n_clusters
    aug = _aug(spark, SF_SMOKE)
    n_total = aug.count()
    pairs = DD.minhash_dedup_pairs(spark, aug, threshold=0.5)
    n_in_clusters = (
        DD.connected_components(pairs).select("doc_id").distinct().count()
    )
    assert sum(r.n_docs for r in rows) == n_in_clusters
    assert n_total - n_in_clusters >= 0


def test_media_phash_catches_appended_tail_clones(spark):
    """Every injected appended-tail clone must hash identically to its
    original (the first-64-byte grid is unchanged), the fingerprint is
    deterministic across invocations, and values fit 63 bits (the
    ANSI-safe Horner bound)."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        multimodal as MM,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    clones = docs.filter(
        (F.col("doc_id") % 3 == 0)
        & (F.col("doc_id") % 10 == 0)
        & (F.col("n_chars") >= 64)  # grid reads 64 bytes; shorter texts wrap
    ).select(
        (F.col("doc_id") + 999_999).alias("doc_id"),
        F.concat("text", F.lit(" xtail")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 6).alias("n_chars"),
    )
    aug = docs.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(clones)
    media = MM.media_table(aug).filter(F.col("modality") == "image")
    hashed = MM.phash_from_pixels(MM.resize_images(media, 8, 8))
    h = {r.media_id: r.phash for r in hashed.collect()}
    clone_ids = [i for i in h if i >= 999_999]
    assert clone_ids
    for cid in clone_ids:
        assert h[cid] == h[cid - 999_999], cid
    assert all(0 <= v < 2**63 for v in h.values())
    again = {
        r.media_id: r.phash
        for r in MM.phash_from_pixels(
            MM.resize_images(media, 8, 8)
        ).collect()
    }
    assert again == h


def test_phash_banded_pairs_equal_brute_force(spark):
    """The pigeonhole completeness theorem, checked empirically: the
    banded candidate join + exact verify must produce EXACTLY the
    brute-force set of pairs within hamming distance 3 — nothing missed
    (completeness), nothing extra (verification)."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        multimodal as MM,
    )

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in catalog.CATALOG["media_phash_near_pairs"].fn(spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    clones = docs.filter(
        (F.col("doc_id") % 3 == 0)
        & (F.col("doc_id") % 10 == 0)
        & (F.col("n_chars") >= 64)
    ).select(
        (F.col("doc_id") + 999_999).alias("doc_id"),
        F.concat("text", F.lit(" xtail")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 6).alias("n_chars"),
    )
    aug = docs.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(clones)
    media = MM.media_table(aug).filter(F.col("modality") == "image")
    h = {
        r.media_id: r.phash
        for r in MM.phash_from_pixels(MM.resize_images(media, 8, 8)).collect()
    }
    exp = {}
    ids = sorted(h)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(h[a] ^ h[b]).count("1")
            if d <= 3:
                exp[(a, b)] = d
    assert exp, "fixture must contain close pairs (clones at distance 0)"
    assert got == exp

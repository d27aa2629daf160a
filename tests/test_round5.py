"""Round-5 additions: MAD-outlier approx twin, incremental semantic
dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    pipeline as PL,
    similarity as SIM,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    catalog,
)

from .conftest import SF_SMOKE


def test_mad_outlier_approx_twin_agrees_with_exact(spark):
    """The percentile_approx(0.5) twin must flag (nearly) the same events
    as the exact median/MAD query.  Perfect equality is NOT expected:
    exact median interpolates even-count groups, the sketch returns an
    element, so borderline events can flip — measured Jaccard ~0.97 on
    the fixtures; pinned at >= 0.9 with a non-trivial flag count."""
    exact = {
        r.event_id
        for r in catalog.CATALOG["events_value_outliers_mad"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    approx = {
        r.event_id
        for r in catalog.CATALOG["events_value_outliers_mad_approx"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert len(exact) > 50, "fixture should produce a real outlier set"
    jaccard = len(exact & approx) / len(exact | approx)
    assert jaccard >= 0.9, f"approx twin diverged: jaccard={jaccard:.3f}"
    # and the schemas line up so the twin is a drop-in replacement
    exact_df = catalog.CATALOG["events_value_outliers_mad"].fn(spark, SF_SMOKE)
    approx_df = catalog.CATALOG["events_value_outliers_mad_approx"].fn(
        spark, SF_SMOKE
    )
    assert exact_df.columns == approx_df.columns


def test_semantic_dedup_fast_string_ids(spark):
    """ADVICE r4: the BLAS fast path must inherit the index's id type
    instead of hard-coding int64 — string ids flow through the pandas
    worker and the pair ordering follows the string's natural order,
    matching the expression path's Column `<`."""
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .limit(200)
        .select(
            F.concat(F.lit("doc-"), F.format_string("%04d", "vec_id")).alias(
                "vec_id"
            ),
            "embedding",
        )
    )
    idx = SIM.ivf_build(emb, n_cells=4, n_assign=2)
    pairs = SIM.semantic_dedup_pairs_fast(idx, threshold=0.15)
    assert dict(pairs.dtypes)["id1"] == "string"
    rows = pairs.collect()
    assert rows, "fixture should produce near-duplicate pairs"
    assert all(r.id1 < r.id2 for r in rows)
    # and it agrees with the exact expression path on the same index
    exact = {
        (r.id1, r.id2)
        for r in SIM.semantic_dedup_pairs(idx, threshold=0.15).collect()
    }
    assert {(r.id1, r.id2) for r in rows} == exact


def test_incremental_semdedup_two_batch_fixture(spark):
    """VERDICT r4 stretch: incremental SemDeDup vs full-corpus batch
    SemDeDup on a two-batch split of the embeddings fixture.

    Pins: (a) statuses partition the batch; (b) dup_of_corpus recall vs
    the EXACT brute-force batch-vs-canonical range search is >= 0.9
    (measured 1.0 — n_assign=3 / n_probe_cells=3 covers every fixture
    pair) and precision >= 0.95 (exact by construction modulo float
    threshold boundaries); (c) the composed keep set (corpus canonical +
    batch kept) stays within Jaccard 0.7 of the batch-mode keep set —
    NOT equality: batch mode can merge components across the
    corpus/batch boundary and elect different survivors, the inherent
    order effect of incremental dedup (measured 0.77)."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        text_queries as TQ,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    batch = emb.filter("pmod(vec_id, 5) == 0")
    n_batch = batch.count()

    def keep_set(idx, ids):
        pairs = SIM.semantic_dedup_pairs_fast(idx, 0.35).select(
            F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b")
        )
        losers = {
            r.doc_id
            for r in DD.connected_components(pairs)
            .filter("doc_id != component")
            .select("doc_id")
            .collect()
        }
        return ids - losers

    k_full = keep_set(TQ.ivf_index_for(spark, SF_SMOKE, n_assign=3), all_ids)
    idx_c = TQ.ivf_index_for(
        spark, SF_SMOKE, n_assign=3, where="pmod(vec_id, 5) != 0"
    )
    c1 = keep_set(idx_c, {i for i in all_ids if i % 5 != 0})
    canon = spark.createDataFrame([(i,) for i in sorted(c1)], "vec_id long")
    st = {
        r.doc_id: r.status
        for r in SIM.semantic_dedup_incremental(
            idx_c, batch, 0.35, canonical_ids=canon
        ).collect()
    }
    assert len(st) == n_batch, "statuses must cover the whole batch"
    assert set(st.values()) <= {"dup_of_corpus", "dup_in_batch", "kept"}

    flagged = {d for d, s in st.items() if s == "dup_of_corpus"}
    canon_emb = emb.join(canon, "vec_id", "left_semi")
    has_dup = {
        r.probe_id
        for r in SIM.cosine_range_search(canon_emb, batch, 0.35).collect()
    }
    assert has_dup, "fixture should contain batch-vs-corpus near-dups"
    recall = len(flagged & has_dup) / len(has_dup)
    precision = len(flagged & has_dup) / len(flagged) if flagged else 1.0
    assert recall >= 0.9, f"dup_of_corpus recall {recall:.3f}"
    assert precision >= 0.95, f"dup_of_corpus precision {precision:.3f}"

    final = c1 | {d for d, s in st.items() if s == "kept"}
    jac = len(final & k_full) / len(final | k_full)
    assert jac >= 0.7, f"keep-set drift vs batch mode: jaccard {jac:.3f}"


def test_components_driver_gate_matches_iterative(spark, monkeypatch):
    """The counted-threshold driver union-find (r5) returns labels
    identical to the distributed fixpoint, and the gate is honest: the
    driver path runs under the threshold, the iterative path above it."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )

    edges = (
        [(i, i + 1) for i in range(12)]          # 12-hop chain
        + [(100, 103), (103, 101), (101, 102)]   # out-of-order cluster
        + [(200, 201)]                           # pair
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {
        (r.doc_id, r.component)
        for r in DD.connected_components(
            pairs, max_iter=50, driver_max_edges=None
        ).collect()
    }
    got = {
        (r.doc_id, r.component)
        for r in DD.connected_components(pairs).collect()
    }
    assert got == want
    assert (100, 100) in got and (103, 100) in got and (12, 0) in got

    called = {}
    orig = DD._components_union_find

    def spy(e):
        called["n"] = len(e)
        return orig(e)

    monkeypatch.setattr(DD, "_components_union_find", spy)
    DD.connected_components(pairs).collect()
    assert called["n"] == len(edges), "under threshold must take driver path"
    called.clear()
    DD.connected_components(pairs, driver_max_edges=0).collect()
    assert not called, "over threshold must stay distributed"


def test_int8_rerank_matches_exact_topk(spark):
    """The quantized-shortlist + exact-re-rank path must return the exact
    baseline's top-5 verbatim on the fixture (shortlist=20 absorbs the
    int8 approximation error entirely — the re-rank stage restores exact
    ORDER for every shortlist member, so only a true neighbor missing
    from the shortlist could diverge)."""
    exact = {
        tuple(r)
        for r in catalog.CATALOG["ann_cosine_topk"].fn(spark, SF_SMOKE).collect()
    }
    got = {
        tuple(r)
        for r in catalog.CATALOG["ann_int8_rerank_topk"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert got == exact


def test_quantize_embeddings_roundtrip_error(spark):
    """int8 symmetric quantization: values round-trip within scale/2 =
    max|x|/254 per element, and the schema is the 4x-smaller artifact
    (tinyint array + one double scale)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(50)
    q = SIM.quantize_embeddings(emb)
    assert dict(q.dtypes)["qvec"] == "array<tinyint>"
    joined = emb.join(q, "vec_id").select("vec_id", "embedding", "qvec", "qscale")
    for r in joined.collect():
        for x, qx in zip(r.embedding, r.qvec):
            assert abs(float(x) - qx * r.qscale) <= r.qscale / 2 + 1e-12
        assert max(abs(v) for v in r.qvec) <= 127


def test_recall_at_k_handcomputed(spark):
    """recall_at_k on a hand-built truth/prediction pair: probe 1 finds
    2 of 3, probe 2 finds 0 of 1, deeper-than-k rows are ignored."""
    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (1, 99, 4)],
        "probe_id long, neighbor_id long, rank int",
    )
    pred = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2), (1, 77, 3), (2, 21, 1), (2, 20, 4)],
        "probe_id long, neighbor_id long, rank int",
    )
    got = {
        r.probe_id: (r.n_truth, r.n_hit, r.recall)
        for r in SIM.recall_at_k(pred, truth, k=3).collect()
    }
    assert got == {1: (3, 2, round(2 / 3, 6)), 2: (1, 0, 0.0)}


def test_stream_semantic_dedup_equals_sequential_batches(spark):
    """The streaming SemDeDup job must produce exactly the statuses of
    applying semantic_dedup_incremental sequentially: micro-batch 0
    against the corpus canonicals, micro-batch 1 against canonicals +
    batch 0's kept docs.  This pins the foreachBatch state handoff
    (kept_dir union, _batch_id < current cut) to the batch operator's
    semantics."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        text_queries as TQ,
    )

    streamed = {
        (r.batch, r.doc_id): r.status
        for r in catalog.CATALOG["stream_semantic_dedup"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert streamed, "stream produced no statuses"

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = TQ.ivf_index_for(
        spark, SF_SMOKE, n_assign=3, where="pmod(vec_id, 5) != 0"
    )
    pairs = SIM.semantic_dedup_pairs_fast(idx, 0.35).select(
        F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b")
    )
    losers = (
        DD.connected_components(pairs)
        .filter("doc_id != component")
        .select(F.col("doc_id").alias("neighbor_id"))
    )
    canon_assigned = idx.assigned.join(losers, "neighbor_id", "left_anti")

    def assigned_of(df):
        return df.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("vec"),
            F.explode(
                SIM._top_cells(F.col("embedding"), idx.centroids, 3)
            ).alias("cell"),
        )

    b0 = emb.filter("pmod(vec_id, 10) == 0")
    b1 = emb.filter("pmod(vec_id, 10) == 5")
    idx0 = SIM.IvfIndex(canon_assigned, idx.centroids, 3)
    st0 = {
        r.doc_id: r.status
        for r in SIM.semantic_dedup_incremental(idx0, b0, 0.35).collect()
    }
    kept0 = b0.join(
        spark.createDataFrame(
            [(d,) for d, s in st0.items() if s == "kept"], "vec_id long"
        ),
        "vec_id",
        "left_semi",
    )
    idx1 = SIM.IvfIndex(
        canon_assigned.union(assigned_of(kept0)), idx.centroids, 3
    )
    st1 = {
        r.doc_id: r.status
        for r in SIM.semantic_dedup_incremental(idx1, b1, 0.35).collect()
    }
    want = {(0, d): s for d, s in st0.items()} | {
        (1, d): s for d, s in st1.items()
    }
    assert streamed == want


def test_bloom_incremental_exact_under_false_positives(spark):
    """Force the Bloom filter into heavy false-positive territory (64
    bits for hundreds of corpus fingerprints) — the exact-verify stage
    must still produce statuses identical to the join-based operator,
    proving FPs cannot leak into dup_of_corpus."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    batch = docs.filter("doc_id % 10 == 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    ).union(
        docs.filter("doc_id % 20 == 5").select(
            "doc_id", F.concat("text", F.lit(" novel")).alias("text")
        )
    )
    want = {
        (r.doc_id, r.status)
        for r in PL.incremental_dedup(docs, batch).collect()
    }
    got = {
        (r.doc_id, r.status)
        for r in PL.incremental_dedup_bloom(
            docs, batch, n_bits=64, n_hashes=2
        ).collect()
    }
    assert got == want


def test_minhash_index_cache_reuse_and_release(spark):
    """The corpus MinHash index follows the IVF cache's lifecycle:
    cache-served on repeat, session-validated, releasable — and the
    prebuilt entry's statuses equal the fit-included entry's."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        cache as CACHE,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        text_queries as TQ,
    )

    CACHE.release("minhash_index_for")
    a = TQ.minhash_index_for(spark, SF_SMOKE)
    b = TQ.minhash_index_for(spark, SF_SMOKE)
    assert a is b, "index rebuilt instead of cache-served"
    assert a[0].storageLevel.useMemory or a[0].storageLevel.useDisk

    fit = {
        tuple(r)
        for r in catalog.CATALOG["dedup_incremental_minhash"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    pre = {
        tuple(r)
        for r in catalog.CATALOG["dedup_incremental_minhash_prebuilt"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert pre == fit
    assert CACHE.release("minhash_index_for", SF_SMOKE) == 1
    assert CACHE.release("minhash_index_for") == 0


def test_profile_table_nulls_and_single_scan(spark):
    """profile_table counts nulls correctly and reads the input exactly
    once (one aggregation job, per-column stats as parallel agg
    expressions — never a scan per column); the approx knob tracks the
    exact distinct counts."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        metrics as M,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "x int, y string",
    )
    got = {r.col_name: r for r in M.profile_table(df).collect()}
    assert (got["x"].n_rows, got["x"].n_null, got["x"].n_distinct) == (4, 1, 3)
    assert (got["y"].n_null, got["y"].n_distinct) == (1, 2)
    assert got["x"].min_value == "1" and got["x"].max_value == "3"

    plan = (
        catalog.CATALOG["orders_profile"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1, "profile must scan the table once"

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    exact = {
        r.col_name: r.n_distinct
        for r in M.profile_table(orders, ["o_custkey", "o_orderkey"]).collect()
    }
    approx = {
        r.col_name: r.n_distinct
        for r in M.profile_table(
            orders, ["o_custkey", "o_orderkey"], approx_distinct=True
        ).collect()
    }
    for c in exact:
        assert abs(approx[c] - exact[c]) / exact[c] < 0.05


def test_boilerplate_grams_caller_owned_cache(spark):
    """ADVICE r4: the persisted gram frame's handle rides on the result
    (caller-controlled lifetime); auto-evict is per-session and can be
    opted out so an earlier result keeps its cache."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    a = PL.boilerplate_spans(docs)
    ga = a.boilerplate_grams
    assert ga.storageLevel.useMemory or ga.storageLevel.useDisk
    b = PL.boilerplate_spans(docs, evict_previous=False)
    assert ga.storageLevel.useMemory or ga.storageLevel.useDisk, (
        "evict_previous=False must keep the earlier result's cache"
    )
    c = PL.boilerplate_spans(docs)  # default evicts b's frame, not a's ref
    assert not (
        b.boilerplate_grams.storageLevel.useMemory
        or b.boilerplate_grams.storageLevel.useDisk
    ), "default eviction should release the previous invocation's frame"
    c.boilerplate_grams.unpersist()
    ga.unpersist()

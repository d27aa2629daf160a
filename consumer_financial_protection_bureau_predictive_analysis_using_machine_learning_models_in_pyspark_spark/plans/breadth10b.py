"""Round-10 (second window) breadth entries.

Leads with the containment scoring governor — the r10 handoff's one
remaining >10×-decade observation: ``dedup_containment_canonical``
already collapses the OUTPUT to one best covering superset per doc, but
both it and the anchor still pay the hot-shingle add-back join for every
df-capped candidate pair (Θ(pairs) candidate-SCORING work).  The fast
twin scores only pairs that can still win the per-sub max (exact-safe
upper/lower bounds — ``operators.dedup._containment_pruned_candidates``),
so its results are bit-equal while the add-back join touches only the
survivor set.

Then four new curation-surface families a 100 TB training-data pipeline
needs that the catalog did not yet cover:

* ``docs_unimax_mix`` — UniMax epoch-capped mixture allocation
  (Chung et al. 2023, "UniMax: Fairer and More Effective Language
  Sampling for Large-Scale Multilingual Pretraining"): integer
  water-filling over domain token counts, exact to the token.
* ``customer_k_anonymity`` / ``customer_k_anonymize`` — privacy audit +
  enforcement beyond regex PII (``docs_pii_redact``): quasi-identifier
  group sizes, then two-level generalization (nation→region,
  1000→5000 balance bands, then suppression) until every released row
  is k-anonymous.
* ``ann_hard_negatives`` — contrastive-training data mining: per probe,
  the top-k highest-cosine WRONG-label neighbors plus the best positive
  and the triplet margin, decimal-exact so the mined set replays.
* ``docs_ref_perplexity_buckets`` — CCNet-style (Wenzek et al. 2020)
  reference-LM perplexity scoring with head/middle/tail terciles per
  language; the ln fold rides the bm25 decimal-term discipline with a
  measured-margin audit in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns as TF
from ..operators import dedup as DD
from ..operators.similarity import dot_decimal
from .breadth8 import _CT_MIN_U, _ct_shingles
from .catalog import CATALOG, _t, register
from .text_queries import _D_TOKS

# ---------------------------------------------------------------------------
# Containment scoring governor
# ---------------------------------------------------------------------------

_CANON_ORACLE = CATALOG["dedup_containment_canonical"].oracle


@register(
    "dedup_containment_canonical_fast",
    _CANON_ORACLE,
    "dedup", "containment", "canonical", "pruned",
    twin_of="dedup_containment_canonical",
    twin_pin="tests/test_round10b.py::test_containment_fast_twin_equality",
)
def dedup_containment_canonical_fast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Best-covering containment with candidate-scoring pruning — the
    serving form of the containment family (r10 handoff observation (a)).

    The canonical twin's max-struct kills the quadratic OUTPUT but still
    scores every df-capped candidate pair through the hot-shingle
    add-back join.  Here a pair reaches that join only if its exact-safe
    intersection upper bound (n_cold + min of the two docs' hot-shingle
    counts) can still (a) reach the containment threshold and (b) beat
    the sub's running max-n_cold lower bound — both provably lossless
    for the (u, −sup_id) argmax (``operators.dedup
    ._containment_pruned_candidates``), so the oracle is the canonical
    twin's VERBATIM.  At 100 TB with heavy boilerplate (large per-doc
    hot lists) the add-back join is the scoring bottleneck; the bound
    dims are all doc-keyed and linear."""
    sh = _ct_shingles(spark, sf_dir)
    out = DD.containment_best_covering(sh, min_u=_CT_MIN_U)
    return out.orderBy("id_sub")


# ---------------------------------------------------------------------------
# UniMax epoch-capped mixture (Chung et al. 2023)
# ---------------------------------------------------------------------------

_UNIMAX_EPOCH_CAP = 2  # each domain contributes at most 2 epochs of itself


# The water-filling tail (tot → s → g → kk → alloc) is split from the
# ``dom`` head so docs_curation_e2e (breadth11) can reuse the identical
# allocation arithmetic over ITS survivor corpus: one definition, two
# oracle consumers.
_UNIMAX_TAIL_CTES = f"""
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d,
         CAST(SUM(n) // 2 AS BIGINT) AS budget
  FROM dom
),
s AS (
  SELECT source, n, {_UNIMAX_EPOCH_CAP} * n AS cap,
         CAST(ROW_NUMBER() OVER (ORDER BY {_UNIMAX_EPOCH_CAP} * n ASC, source)
              AS BIGINT) AS i,
         CAST(SUM({_UNIMAX_EPOCH_CAP} * n) OVER (
           ORDER BY {_UNIMAX_EPOCH_CAP} * n ASC, source
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref
  FROM dom
),
g AS (
  SELECT s.*, t.budget, t.d,
         MIN(CASE WHEN s.cap * (t.d - s.i) + s.pref <= t.budget
                  THEN 1 ELSE 0 END)
           OVER (ORDER BY s.i ROWS UNBOUNDED PRECEDING) AS capped
  FROM s CROSS JOIN tot t
),
kk AS (
  SELECT COALESCE(MAX(CASE WHEN capped = 1 THEN i END), 0) AS k,
         COALESCE(MAX(CASE WHEN capped = 1 THEN pref END), 0) AS pref_k
  FROM g
),
alloc AS (
  SELECT g.source, g.n, g.cap,
         CASE WHEN g.capped = 1 OR g.d = kk.k THEN g.cap
              ELSE (g.budget - kk.pref_k) // (g.d - kk.k)
                   + CASE WHEN g.i - kk.k <=
                               (g.budget - kk.pref_k) % (g.d - kk.k)
                          THEN 1 ELSE 0 END
         END AS alloc
  FROM g CROSS JOIN kk
)
""".strip()

_UNIMAX_CTES = f"""
dom AS (
  SELECT source, CAST(SUM(len({_D_TOKS})) AS BIGINT) AS n
  FROM documents GROUP BY source HAVING SUM(len({_D_TOKS})) > 0
),
{_UNIMAX_TAIL_CTES}
""".strip()


@register(
    "docs_unimax_mix",
    f"""
WITH {_UNIMAX_CTES}
SELECT source,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(cap AS BIGINT) AS cap_tokens,
       CAST(alloc AS BIGINT) AS alloc_tokens,
       CAST((2000000 * alloc + n) // (2 * n) AS BIGINT) AS epochs_u
FROM alloc
ORDER BY source
""",
    "mixture", "sampling", "unimax",
)
def docs_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): give every domain
    an equal share of the token budget, except no domain repeats more
    than ``_UNIMAX_EPOCH_CAP`` epochs — the principled alternative to
    temperature sampling (``docs_temperature_mix``) and learned weights
    (``docs_domain_reweight``), closing the mixture family.

    Exact integer water-filling: domains sorted ascending by cap,
    prefix sums find the last fully-capped domain k (the capped set is
    prefix-closed under this order), the remaining budget divides evenly
    among the D−k uncapped domains with the remainder distributed one
    token each to the first domains after k in the same order.  Emits
    (source, n_tokens, cap_tokens, alloc_tokens, epochs_u) with
    Σ alloc == budget to the token (pinned).

    Scale posture: the corpus-sized work is ONE token-count aggregate;
    everything after runs on the domain dim (thousands of rows at 100 TB
    — the unpartitioned windows are dim-sized by construction, same
    posture as ``docs_domain_reweight``'s iteration frame)."""
    alloc = _unimax_alloc(spark, sf_dir)
    return alloc.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("cap").cast("bigint").alias("cap_tokens"),
        F.col("alloc").cast("bigint").alias("alloc_tokens"),
        F.expr("CAST((2000000 * alloc + n) DIV (2 * n) AS BIGINT)").alias(
            "epochs_u"
        ),
    ).orderBy("source")


def _unimax_alloc(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The UniMax water-filling allocation frame (source, n, cap, alloc)
    — shared by the mix report, the apply step, and the curation
    pipeline's mixture stage (breadth11 passes its survivor corpus)."""
    if docs is None:
        docs = _t(spark, sf_dir, "documents")
    dom = (
        docs.select("source", F.size(TF.tokens("text")).alias("_nt"))
        .groupBy("source")
        .agg(F.sum("_nt").cast("bigint").alias("n"))
        .filter(F.col("n") > 0)
    )
    cap = _UNIMAX_EPOCH_CAP
    tot = dom.agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.expr("CAST(SUM(n) DIV 2 AS BIGINT)").alias("budget"),
    )
    w_ord = Window.orderBy(F.col("cap"), F.col("source"))
    s = (
        dom.withColumn("cap", F.lit(cap) * F.col("n"))
        .withColumn("i", F.row_number().over(w_ord).cast("bigint"))
        .withColumn(
            "pref",
            F.sum("cap").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .crossJoin(F.broadcast(tot))
    )
    w_pref = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    g = s.withColumn(
        "capped",
        F.min(
            F.when(
                F.col("cap") * (F.col("d") - F.col("i")) + F.col("pref")
                <= F.col("budget"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(w_pref),
    )
    kk = g.agg(
        F.coalesce(
            F.max(F.when(F.col("capped") == 1, F.col("i"))), F.lit(0)
        ).alias("k"),
        F.coalesce(
            F.max(F.when(F.col("capped") == 1, F.col("pref"))), F.lit(0)
        ).alias("pref_k"),
    )
    alloc = g.crossJoin(F.broadcast(kk)).withColumn(
        "alloc",
        F.when(
            (F.col("capped") == 1) | (F.col("d") == F.col("k")), F.col("cap")
        ).otherwise(
            F.expr("(budget - pref_k) DIV (d - k)")
            + F.when(
                F.col("i") - F.col("k")
                <= F.expr("(budget - pref_k) % (d - k)"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ),
    )
    return alloc.select("source", "n", "cap", "alloc")


# ---------------------------------------------------------------------------
# k-anonymity audit + enforcement (privacy family)
# ---------------------------------------------------------------------------

_KANON_K = 5

_KANON_QIDS = """
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS INTEGER) AS b1,
         CAST(FLOOR(c_acctbal / 5000.0) AS INTEGER) AS b5
  FROM customer
""".strip()


@register(
    "customer_k_anonymity",
    f"""
WITH q AS ({_KANON_QIDS})
SELECT c_nationkey, c_mktsegment, b1 AS bal_bucket,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS INTEGER) AS below_k5,
       CAST(CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS INTEGER) AS below_k10,
       CAST((2000000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS reid_risk_u
FROM q
GROUP BY c_nationkey, c_mktsegment, b1
ORDER BY c_nationkey, c_mktsegment, bal_bucket
""",
    "privacy", "k-anonymity", "audit",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation,
    market segment, $1000 balance band): equivalence-class sizes, the
    k=5 / k=10 violation flags, and the per-class re-identification risk
    1/size in half-up micro-units — the privacy-release audit that
    complements content-level ``docs_pii_redact`` (Sweeney 2002;
    quasi-identifier linkage, not direct identifiers).

    One hash aggregate over the scan (map-side combinable); the QID
    projection folds into the scan, so the audit is a single exchange at
    any scale."""
    docs = _t(spark, sf_dir, "customer")
    grp = (
        docs.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_bucket"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
    )
    return grp.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_bucket",
        "group_size",
        F.when(F.col("group_size") < _KANON_K, 1).otherwise(0)
        .cast("int")
        .alias("below_k5"),
        F.when(F.col("group_size") < 10, 1).otherwise(0)
        .cast("int")
        .alias("below_k10"),
        F.expr(
            "CAST((2000000 + group_size) DIV (2 * group_size) AS BIGINT)"
        ).alias("reid_risk_u"),
    ).orderBy("c_nationkey", "c_mktsegment", "bal_bucket")


@register(
    "customer_k_anonymize",
    f"""
WITH q AS ({_KANON_QIDS}),
g0 AS (
  SELECT c_nationkey, c_mktsegment, b1, COUNT(*) AS s0
  FROM q GROUP BY 1, 2, 3
),
l0 AS (
  SELECT q.*, n.n_regionkey, g0.s0 FROM q
  JOIN g0 ON g0.c_nationkey = q.c_nationkey
         AND g0.c_mktsegment = q.c_mktsegment AND g0.b1 = q.b1
  JOIN nation n ON n.n_nationkey = q.c_nationkey
),
rest AS (SELECT * FROM l0 WHERE s0 < {_KANON_K}),
g1 AS (
  SELECT n_regionkey, c_mktsegment, b5, COUNT(*) AS s1
  FROM rest GROUP BY 1, 2, 3
),
l1 AS (
  SELECT rest.*, g1.s1 FROM rest
  JOIN g1 ON g1.n_regionkey = rest.n_regionkey
         AND g1.c_mktsegment = rest.c_mktsegment AND g1.b5 = rest.b5
),
g2 AS (
  SELECT c_mktsegment, COUNT(*) AS s2
  FROM l1 WHERE s1 < {_KANON_K} GROUP BY 1
),
out AS (
  SELECT c_custkey, 0 AS anon_level,
         'nation:' || CAST(c_nationkey AS VARCHAR) AS geo,
         c_mktsegment AS segment,
         'b1000:' || CAST(b1 AS VARCHAR) AS bal_band,
         s0 AS group_size
  FROM l0 WHERE s0 >= {_KANON_K}
  UNION ALL
  SELECT c_custkey, 1,
         'region:' || CAST(n_regionkey AS VARCHAR),
         c_mktsegment,
         'b5000:' || CAST(b5 AS VARCHAR),
         s1
  FROM l1 WHERE s1 >= {_KANON_K}
  UNION ALL
  SELECT l1.c_custkey, 2, '*', l1.c_mktsegment, '*', g2.s2
  FROM l1 JOIN g2 ON g2.c_mktsegment = l1.c_mktsegment
  WHERE l1.s1 < {_KANON_K}
)
SELECT c_custkey, CAST(anon_level AS INTEGER) AS anon_level, geo, segment,
       bal_band, CAST(group_size AS BIGINT) AS group_size
FROM out ORDER BY c_custkey
""",
    "privacy", "k-anonymity", "generalization",
)
def customer_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ENFORCEMENT by two-level generalization with local
    recoding: rows whose level-0 class (nation, segment, $1000 band)
    reaches k=5 release as-is; the residue regroups one rung up the
    taxonomy (region via the nation dim, $5000 band); classes still
    below k suppress geo+balance entirely (segment-only release).
    Emits one row per customer with its generalization level, released
    QIDs, and a class-size column: every GENERALIZED release class
    (levels 0 and 1) is ≥ k by construction (pinned).  Level-2 rows are
    terminally SUPPRESSED — geo and balance are withheld outright, so
    k-anonymity over those attributes is vacuous (a '*' cell is
    consistent with every value; the matching class under the remaining
    QID is the whole segment).  Their group_size reports the suppressed
    cohort per segment for AUDITABILITY and may be < k — it is not a
    release-class guarantee (r10b review clarification).

    Scale posture: two grouped aggregates + doc-keyed joins, each on a
    monotonically SHRINKING residue; the nation dim is broadcast.  The
    taxonomy walk is data-independent (fixed two rungs), so the plan is
    static — no driver loop."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    q = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("b1"),
        F.floor(F.col("c_acctbal") / 5000.0).cast("int").alias("b5"),
    )
    # Level-0 class sizes are computed BEFORE the nation join, mirroring
    # the oracle's CTE order (g0 groups the pre-join q): a nationkey
    # missing from the nation dim must not shrink release-class sizes.
    g0 = q.groupBy("c_nationkey", "c_mktsegment", "b1").agg(
        F.count(F.lit(1)).alias("s0")
    )
    l0 = q.join(g0, ["c_nationkey", "c_mktsegment", "b1"]).join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    ok0 = l0.filter(F.col("s0") >= _KANON_K).select(
        "c_custkey",
        F.lit(0).cast("int").alias("anon_level"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias(
            "geo"
        ),
        F.col("c_mktsegment").alias("segment"),
        F.concat(F.lit("b1000:"), F.col("b1").cast("string")).alias(
            "bal_band"
        ),
        F.col("s0").cast("bigint").alias("group_size"),
    )
    rest = l0.filter(F.col("s0") < _KANON_K)
    g1 = rest.groupBy("n_regionkey", "c_mktsegment", "b5").agg(
        F.count(F.lit(1)).alias("s1")
    )
    l1 = rest.join(g1, ["n_regionkey", "c_mktsegment", "b5"])
    ok1 = l1.filter(F.col("s1") >= _KANON_K).select(
        "c_custkey",
        F.lit(1).cast("int").alias("anon_level"),
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias(
            "geo"
        ),
        F.col("c_mktsegment").alias("segment"),
        F.concat(F.lit("b5000:"), F.col("b5").cast("string")).alias(
            "bal_band"
        ),
        F.col("s1").cast("bigint").alias("group_size"),
    )
    sup = l1.filter(F.col("s1") < _KANON_K)
    g2 = sup.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("s2"))
    ok2 = sup.join(g2, "c_mktsegment").select(
        "c_custkey",
        F.lit(2).cast("int").alias("anon_level"),
        F.lit("*").alias("geo"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("*").alias("bal_band"),
        F.col("s2").cast("bigint").alias("group_size"),
    )
    return ok0.unionByName(ok1).unionByName(ok2).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

_HN_PAIRS = """
SELECT p.vec_id AS probe_id, p.label AS probe_label,
       e.vec_id AS neighbor_id, e.label AS neighbor_label,
       SUM(CAST(CAST(p.embedding[i.i] AS DOUBLE)
                * CAST(e.embedding[i.i] AS DOUBLE)
                AS DECIMAL(20,15))) AS dot_dec
FROM embeddings p
CROSS JOIN embeddings e
CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
WHERE p.vec_id < 10 AND e.vec_id <> p.vec_id
GROUP BY 1, 2, 3, 4
""".strip()


@register(
    "ann_hard_negatives",
    f"""
WITH pairs AS ({_HN_PAIRS}),
neg AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY dot_dec DESC, neighbor_id) AS rank
  FROM pairs WHERE neighbor_label <> probe_label
),
pos AS (
  SELECT probe_id, neighbor_id AS pos_id, dot_dec AS pos_dot
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY dot_dec DESC, neighbor_id) AS pr
    FROM pairs WHERE neighbor_label = probe_label
  ) x WHERE pr = 1
)
SELECT n.probe_id, CAST(n.probe_label AS INTEGER) AS probe_label,
       n.neighbor_id, CAST(n.neighbor_label AS INTEGER) AS neighbor_label,
       ROUND(CAST(n.dot_dec AS DOUBLE), 6) AS neg_cosine,
       CAST(n.rank AS INTEGER) AS rank,
       p.pos_id,
       ROUND(CAST(p.pos_dot AS DOUBLE), 6) AS pos_cosine,
       ROUND(CAST(p.pos_dot - n.dot_dec AS DOUBLE), 6) AS margin
FROM neg n JOIN pos p ON p.probe_id = n.probe_id
WHERE n.rank <= 5
ORDER BY n.probe_id, n.rank
""",
    "similarity", "contrastive", "mining",
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    probe (vec_id < 10), the five highest-cosine WRONG-label neighbors
    (the negatives a random sampler would almost never draw), the single
    best same-label neighbor, and the triplet margin pos−neg — negative
    or tiny margins flag the pairs that actually move an InfoNCE loss.
    Probes with no same-label neighbor are skipped (no positive to
    anchor a triplet).

    Decimal-exact fold end to end (the ann_cosine_topk discipline), so
    the mined set and its ranking replay across engines and
    partitionings.  Scale posture: probes broadcast against one corpus
    scan; the two rankings reuse the SAME scored frame; output is
    k-bounded per probe."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("probe_vec"),
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.col("embedding").alias("vec"),
        )
        .crossJoin(F.broadcast(probes))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "probe_label",
            "neighbor_id",
            "neighbor_label",
            dot_decimal(F.col("probe_vec"), F.col("vec")).alias("dot_dec"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dot_dec").desc(), F.col("neighbor_id")
    )
    neg = (
        scored.filter(F.col("neighbor_label") != F.col("probe_label"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    pos = (
        scored.filter(F.col("neighbor_label") == F.col("probe_label"))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") == 1)
        .select(
            "probe_id",
            F.col("neighbor_id").alias("pos_id"),
            F.col("dot_dec").alias("pos_dot"),
        )
    )
    return (
        neg.join(pos, "probe_id")
        .select(
            "probe_id",
            F.col("probe_label").cast("int").alias("probe_label"),
            "neighbor_id",
            F.col("neighbor_label").cast("int").alias("neighbor_label"),
            F.round(F.col("dot_dec").cast("double"), 6).alias("neg_cosine"),
            F.col("rank").cast("int").alias("rank"),
            "pos_id",
            F.round(F.col("pos_dot").cast("double"), 6).alias("pos_cosine"),
            F.round(
                (F.col("pos_dot") - F.col("dot_dec")).cast("double"), 6
            ).alias("margin"),
        )
        .orderBy("probe_id", "rank")
    )


# ---------------------------------------------------------------------------
# CCNet-style reference-LM perplexity buckets
# ---------------------------------------------------------------------------


@register(
    "docs_ref_perplexity_buckets",
    f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_D_TOKS}) AS t FROM documents
),
tf AS (
  SELECT doc_id, lang, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2, 3
),
ref AS (
  SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok WHERE doc_id % 7 = 0 GROUP BY 1, 2
),
stats AS (
  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tt,
         CAST(COUNT(*) AS BIGINT) AS vv
  FROM ref GROUP BY 1
),
terms AS (
  SELECT tf.doc_id, tf.lang, tf.tf, COALESCE(r.cnt, 0) AS cnt,
         CAST(CAST(tf.tf AS DOUBLE) *
              -ln(CAST(COALESCE(r.cnt, 0) + 1 AS DOUBLE)
                  / CAST(s.tt + s.vv + 1 AS DOUBLE))
              AS DECIMAL(20,6)) AS term_dec
  FROM tf
  LEFT JOIN ref r ON r.lang = tf.lang AND r.t = tf.t
  JOIN stats s ON s.lang = tf.lang
),
doc AS (
  SELECT doc_id, lang,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN cnt = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(SUM(CAST(term_dec * 1000000 AS BIGINT)) AS BIGINT) AS s_int
  FROM terms GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, lang, n_tokens, n_oov,
         CAST((2 * s_int + n_tokens)
              // (2 * n_tokens) AS BIGINT) AS ce_u
  FROM doc
),
unscored AS (
  SELECT tf.doc_id, tf.lang,
         CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tf.tf) AS BIGINT) AS n_oov,
         CAST(NULL AS BIGINT) AS ce_u,
         'unscored' AS bucket
  FROM tf LEFT JOIN stats s ON s.lang = tf.lang
  WHERE s.lang IS NULL
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT doc_id, lang, n_tokens, n_oov, ce_u,
         CASE NTILE(3) OVER (PARTITION BY lang ORDER BY ce_u, doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         END AS bucket
  FROM scored
  UNION ALL
  SELECT * FROM unscored
) u
ORDER BY doc_id
""",
    "text", "lm", "perplexity", "ccnet", "curation",
)
def docs_ref_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality partitioning (Wenzek et al. 2020): a unigram
    LM with add-one smoothing is trained per language on a reference
    slice (doc_id % 7 == 0 — the stand-in for "clean wikipedia text"),
    every document is scored by cross-entropy under ITS language's
    reference LM (OOV tokens fall to the smoothing floor 1/(T+V+1)),
    and each language's documents split into head/middle/tail perplexity
    terciles — the buckets CCNet keeps/inspects/drops.

    Cross-engine discipline: each per-type term tf·(−ln p) rounds to
    DECIMAL(20,6) (the bm25 decimal-term pattern, one scale coarser —
    a 1-ulp libm divergence moves the scaled term by ≤ |term|·1e6·2⁻⁵²
    ≈ 1e-8 units while the measured margin audit in
    tests/test_round10b.py demands ≥ 1e-4 from every rounding
    boundary, a 10⁴× guard band), per-term values scale to exact
    int64 micro-nats
    and SUM exactly, ce_u is half-up integer micro-nats/token, and the
    tercile is rank-based on the already-exact (ce_u, doc_id) key — so
    the bucket boundary replays on any engine/build.

    Scale posture: reference counts are a (lang, type) dim built in one
    aggregate over the reference slice (a pushed-down filter on the same
    scan); scoring is tf ⋈ vocab on (lang, type) — the vocab side is
    vocabulary-sized, broadcastable per language shard; the tercile is
    one window over doc-cardinality rows partitioned by lang.  No
    Python, no UDF, no transcendental on the comparison surface."""
    docs = _t(spark, sf_dir, "documents")
    ref, stats = _ppl_dims(docs)
    scored = _ppl_score(docs, ref, stats)
    # the tercile window must see ONLY scored rows — an unscored
    # (ref-less lang) row inside the partition would shift every tile
    w = Window.partitionBy("lang").orderBy("ce_u", "doc_id")
    with_ref = scored.filter(F.col("ce_u").isNotNull()).select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_oov",
        "ce_u",
        F.when(F.ntile(3).over(w) == 1, "head")
        .when(F.ntile(3).over(w) == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    no_ref = scored.filter(F.col("ce_u").isNull()).select(
        "doc_id", "lang", "n_tokens", "n_oov", "ce_u",
        F.lit("unscored").alias("bucket"),
    )
    return with_ref.unionByName(no_ref).orderBy("doc_id")


def _ppl_dims(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The prebuilt reference-LM dims: (lang, type) add-one counts and
    per-lang (T, V) totals, from the doc_id % 7 reference slice."""
    rtok = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select("lang", F.explode(TF.tokens("text")).alias("t"))
    )
    ref = rtok.groupBy("lang", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    stats = ref.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("tt"),
        F.count(F.lit(1)).cast("bigint").alias("vv"),
    )
    return ref, stats


def _ppl_score(
    frame: DataFrame, ref: DataFrame, stats: DataFrame
) -> DataFrame:
    """Score any (doc_id, lang, text) frame under the prebuilt dims:
    (doc_id, lang, n_tokens, n_oov, ce_u) — the exact decimal-term fold
    of the batch entry, shared verbatim with the streaming serving twin
    so where the scoring runs cannot change a value.  A language with NO
    reference docs (stats row absent) yields ce_u NULL and n_oov ==
    n_tokens — callers bucket those as 'unscored' instead of silently
    dropping tail languages (r10b review finding)."""
    tf = (
        frame.select("doc_id", "lang", F.explode(TF.tokens("text")).alias("t"))
        .groupBy("doc_id", "lang", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    terms = (
        tf.join(F.broadcast(ref), ["lang", "t"], "left")
        .join(F.broadcast(stats), "lang", "left")
        .withColumn(
            "term_dec",
            (
                F.col("tf").cast("double")
                * -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.col("tt") + F.col("vv") + 1).cast("double")
                )
            ).cast("decimal(20,6)"),
        )
    )
    doc = terms.groupBy("doc_id", "lang").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("cnt").isNull(), F.col("tf")).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.sum(
            (F.col("term_dec") * F.lit(1_000_000)).cast("bigint")
        ).alias("s_int"),
    )
    return doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_oov",
        F.expr(
            "CAST((2 * s_int + n_tokens) DIV (2 * n_tokens) AS BIGINT)"
        ).alias("ce_u"),
    )


# ---------------------------------------------------------------------------
# UniMax apply step: epoch-replicated greedy document sample
# ---------------------------------------------------------------------------


# Split like _UNIMAX_TAIL_CTES: the ``doc`` head is corpus-specific,
# the ranked/sel tail is the reusable apply arithmetic (breadth11).
_UNIMAX_SAMPLE_TAIL_CTES = """
ranked AS (
  SELECT d.doc_id, d.source, d.n_tok,
         SUM(d.n_tok) OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM doc d
),
sel AS (
  SELECT r.doc_id, r.source, r.n_tok,
         a.alloc // a.n AS e,
         CASE WHEN r.cum <= a.alloc % a.n THEN 1 ELSE 0 END AS extra
  FROM ranked r JOIN alloc a ON a.source = r.source
)
""".strip()

_UNIMAX_SAMPLE_CTES = f"""
doc AS (
  SELECT doc_id, source, CAST(len({_D_TOKS}) AS BIGINT) AS n_tok
  FROM documents
),
{_UNIMAX_SAMPLE_TAIL_CTES}
""".strip()


@register(
    "docs_unimax_sample",
    f"""
WITH {_UNIMAX_CTES},
{_UNIMAX_SAMPLE_CTES}
SELECT doc_id, source,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(e + extra AS INTEGER) AS n_copies
FROM sel WHERE e + extra > 0
ORDER BY source, doc_id
""",
    "mixture", "sampling", "unimax", "apply",
)
def docs_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UniMax allocation made actionable: every document gets
    ``alloc DIV n`` full epochs, and the domain's remainder tokens fill
    greedily along a deterministic md5 hash-rank order (the
    ``docs_stratified_sample`` discipline) — docs whose running token
    prefix fits get one extra copy.  Emits (doc_id, source, n_tokens,
    n_copies > 0); Σ n_tokens·n_copies per domain lands within one doc
    length of the domain's allocation (pinned), and membership is a pure
    function of the data — reproducible across runs, partitionings, and
    engines.

    Scale posture: the allocation dim is domain-bounded; the corpus work
    is one token-count projection plus ONE source-partitioned cumulative
    window (hash shuffle + partition-local sort, no global sort), then a
    broadcast dim join — the same shape at any corpus size."""
    alloc = _unimax_alloc(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    sel = _unimax_select(alloc, docs)
    return sel.filter(F.col("n_copies") > 0).orderBy("source", "doc_id")


def _unimax_select(alloc: DataFrame, docs: DataFrame) -> DataFrame:
    """The UniMax apply step over an arbitrary corpus frame: per-domain
    epoch replication + md5-hash-rank greedy remainder fill.  Returns
    (doc_id, source, n_tokens, n_copies) for EVERY corpus doc (n_copies
    may be 0) — shared by docs_unimax_sample and the curation pipeline's
    mixture stage (breadth11)."""
    doc = docs.select(
        "doc_id", "source", F.size(TF.tokens("text")).cast("bigint").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = doc.withColumn("cum", F.sum("n_tok").over(w))
    return ranked.join(F.broadcast(alloc), "source").select(
        "doc_id",
        "source",
        F.col("n_tok").alias("n_tokens"),
        (
            F.expr("alloc DIV n")
            + F.when(F.col("cum") <= F.expr("alloc % n"), 1).otherwise(0)
        )
        .cast("int")
        .alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (BPE economics)
# ---------------------------------------------------------------------------

_BPE_ENC_ORACLE = CATALOG["docs_bpe_encode"].oracle


@register(
    "docs_tokenizer_fertility",
    f"""
WITH enc AS ({_BPE_ENC_ORACLE})
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(e.n_words) AS BIGINT) AS n_words,
       CAST(SUM(e.n_symbols) AS BIGINT) AS n_symbols,
       CAST(SUM(e.n_subwords) AS BIGINT) AS n_subwords,
       CAST((2000000 * SUM(e.n_symbols) + SUM(e.n_subwords))
            // (2 * SUM(e.n_subwords)) AS BIGINT) AS chars_per_subword_u,
       CAST((2000000 * SUM(e.n_subwords) + SUM(e.n_words))
            // (2 * SUM(e.n_words)) AS BIGINT) AS subwords_per_word_u
FROM enc e
JOIN documents d ON d.doc_id = e.doc_id
GROUP BY d.lang
ORDER BY d.lang
""",
    "text", "tokenizer", "bpe", "fertility", "eval",
)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the per-language token-economics
    table (chars per subword, subwords per word, half-up micro-units)
    behind equitable multilingual budgeting (the UniMax paper's framing:
    a tokenizer that fragments a language inflates its effective token
    cost).  Composes the value-oracled BPE lifecycle (docs_bpe_merges →
    docs_bpe_encode) with a lang rollup; the oracle wraps the encode
    oracle verbatim so the two surfaces can never drift.

    Scale posture: inherits the encode entry's shape (merges rewrite the
    DISTINCT word vocabulary; the corpus side joins by word), then ONE
    lang-keyed aggregate over per-doc counts."""
    from ..operators import text as TX

    docs = _t(spark, sf_dir, "documents")
    merges = TX.bpe_merge_steps(docs, vocab_size=500, n_merges=5)
    enc = TX.bpe_encode_stats(docs, merges, n_merges=5)
    out = enc.join(docs.select("doc_id", "lang"), "doc_id").groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_symbols").cast("bigint").alias("n_symbols"),
        F.sum("n_subwords").cast("bigint").alias("n_subwords"),
    )
    return out.select(
        "lang",
        "n_docs",
        "n_words",
        "n_symbols",
        "n_subwords",
        F.expr(
            "CAST((2000000 * n_symbols + n_subwords)"
            " DIV (2 * n_subwords) AS BIGINT)"
        ).alias("chars_per_subword_u"),
        F.expr(
            "CAST((2000000 * n_subwords + n_words)"
            " DIV (2 * n_words) AS BIGINT)"
        ).alias("subwords_per_word_u"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Streaming serving twin: perplexity scoring at ingest
# ---------------------------------------------------------------------------

@register(
    "stream_ref_perplexity", None,
    "streaming", "lm", "perplexity", "model-serving", "foreachBatch",
    twin_of="docs_ref_perplexity_buckets",
    twin_pin="tests/test_round10b.py::test_stream_ref_perplexity_twin",
)
def stream_ref_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of docs_ref_perplexity_buckets — CCNet serving
    split: the reference LM dims (per-lang (type, count) table + (T, V)
    totals) and the tercile cut points are built ONCE, offline, then the
    corpus arrives as two parquet micro-batches (doc_id parity,
    mtime-ordered) and each batch is scored by the PREBUILT dims via
    ``streaming.jobs.run_streaming_model_scoring`` (idempotent
    ``_batch_id`` overwrite).  Bucket assignment at ingest compares
    against FROZEN lexicographic (ce_u, doc_id) cut points — exactly the
    key the batch entry's rank-based tercile orders by, so on replayed
    docs the twin pin demands bit-equal (score AND bucket) rows; for
    genuinely new docs the doc_id tiebreak degenerates to a ce_u
    threshold, which is the production CCNet semantics (frozen
    head/middle/tail thresholds from an offline sample).

    Rows-only (streaming lifecycle); per-doc value equality with the
    oracled batch entry is the pin."""
    from pyspark.storagelevel import StorageLevel

    from ..streaming import jobs as SJ

    docs = _t(spark, sf_dir, "documents")
    ref, stats = _ppl_dims(docs)
    ref = ref.persist(StorageLevel.MEMORY_AND_DISK)
    stats = stats.persist(StorageLevel.MEMORY_AND_DISK)

    # frozen cut points: last (ce_u, doc_id) of the head and middle
    # terciles per lang, from one offline pass (a lang-cardinality dim)
    batch_out = CATALOG["docs_ref_perplexity_buckets"].fn(spark, sf_dir)
    cuts = (
        batch_out.groupBy("lang")
        .agg(
            F.max(
                F.when(
                    F.col("bucket") == "head",
                    F.struct(F.col("ce_u"), F.col("doc_id")),
                )
            ).alias("_h"),
            F.max(
                F.when(
                    F.col("bucket") != "tail",
                    F.struct(F.col("ce_u"), F.col("doc_id")),
                )
            ).alias("_m"),
        )
        .select(
            "lang",
            F.col("_h.ce_u").alias("h_ce"),
            F.col("_h.doc_id").alias("h_id"),
            F.col("_m.ce_u").alias("m_ce"),
            F.col("_m.doc_id").alias("m_id"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cuts.count()

    raw = docs.select("doc_id", "lang", "text")
    work = SJ.stage_microbatches(
        "stream_ref_perplexity",
        sf_dir,
        lambda: [raw.filter(f"pmod(doc_id, 2) == {i}") for i in range(2)],
    )
    flat = f"{work}/batches"

    def score_fn(batch_df: DataFrame) -> DataFrame:
        scored = _ppl_score(batch_df, ref, stats)
        lex_le = (  # (ce_u, doc_id) <=lex (c_ce, c_id), null cut -> False
            lambda ce, di: (F.col("ce_u") < F.col(ce))
            | ((F.col("ce_u") == F.col(ce)) & (F.col("doc_id") <= F.col(di)))
        )
        return scored.join(F.broadcast(cuts), "lang", "left").select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_oov",
            "ce_u",
            F.when(F.col("ce_u").isNull(), "unscored")
            .when(lex_le("h_ce", "h_id"), "head")
            .when(lex_le("m_ce", "m_id"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )

    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    SJ.run_streaming_model_scoring(
        stream, score_fn, f"{work}/scores", f"{work}/ckpt"
    )
    # the scoring run is synchronous and the returned frame reads from
    # the written parquet, so the prebuilt dims are dead here — release
    # them instead of leaking session-lifetime cache (ADVICE r10)
    for dim in (ref, stats, cuts):
        dim.unpersist()
    return (
        spark.read.parquet(f"{work}/scores")
        .select(
            "doc_id", "lang", "n_tokens", "n_oov", "ce_u", "bucket",
            "_batch_id",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# l-diversity: the homogeneity-attack audit on top of k-anonymity
# ---------------------------------------------------------------------------


@register(
    "customer_l_diversity",
    f"""
WITH q AS ({_KANON_QIDS}),
s AS (
  SELECT q.c_custkey, q.c_nationkey, q.c_mktsegment, q.b1,
         CASE WHEN EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = q.c_custkey
             AND o.o_orderpriority = '1-URGENT'
         ) THEN 1 ELSE 0 END AS urgent
  FROM q
),
grp AS (
  SELECT c_nationkey, c_mktsegment, b1 AS bal_bucket,
         CAST(COUNT(*) AS BIGINT) AS group_size,
         CAST(COUNT(DISTINCT urgent) AS BIGINT) AS l_distinct,
         CAST(MAX(cnt_s) AS BIGINT) AS top_cnt
  FROM (
    SELECT s.*, COUNT(*) OVER (
      PARTITION BY c_nationkey, c_mktsegment, b1, urgent) AS cnt_s
    FROM s
  ) x
  GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, bal_bucket, group_size, l_distinct,
       CAST((2000000 * top_cnt + group_size)
            // (2 * group_size) AS BIGINT) AS top_share_u,
       CAST(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END AS INTEGER)
         AS homogeneous
FROM grp
ORDER BY c_nationkey, c_mktsegment, bal_bucket
""",
    "privacy", "l-diversity", "audit",
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) over the same
    quasi-identifier classes as ``customer_k_anonymity``, with a
    sensitive attribute the QIDs do NOT determine — "has placed an
    urgent-priority order" (a behavioral fact from a second table): a
    class can be k-anonymous yet leak the sensitive value outright when
    every member shares it (the homogeneity attack).  The first design
    draft used the in-debt flag and was rejected in review: acctbal < 0
    is FUNCTIONALLY DETERMINED by the balance-band QID (bucket −1 ⟺
    debt), so every class was trivially homogeneous — an l-diversity
    audit must use a sensitive attribute outside the QID closure.  Emits
    per class the distinct-sensitive count l, the majority sensitive
    share in half-up micro-units (the attacker's confidence), and the
    l < 2 flag.

    One scan + one left-semi-shaped flag join (orders keyed by custkey)
    → one window + one aggregate sharing the QID exchange."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent_ids = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    s = (
        cust.select(
            "c_custkey",
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("int")
            .alias("bal_bucket"),
        )
        .join(
            urgent_ids.withColumn("urgent", F.lit(1)), "c_custkey", "left"
        )
        .na.fill({"urgent": 0})
    )
    w = Window.partitionBy(
        "c_nationkey", "c_mktsegment", "bal_bucket", "urgent"
    )
    grp = (
        s.withColumn("cnt_s", F.count(F.lit(1)).over(w))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct("urgent").cast("bigint").alias("l_distinct"),
            F.max("cnt_s").cast("bigint").alias("top_cnt"),
        )
    )
    return grp.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_bucket",
        "group_size",
        "l_distinct",
        F.expr(
            "CAST((2000000 * top_cnt + group_size)"
            " DIV (2 * group_size) AS BIGINT)"
        ).alias("top_share_u"),
        F.when(F.col("l_distinct") < 2, 1).otherwise(0)
        .cast("int")
        .alias("homogeneous"),
    ).orderBy("c_nationkey", "c_mktsegment", "bal_bucket")


# ---------------------------------------------------------------------------
# CUSUM drift detection over event values (prefix-min closed form)
# ---------------------------------------------------------------------------

_CUSUM_SLACK_U = 25_000_000  # allowance k: 25 value-units in micro-units
_CUSUM_H_U = 250_000_000  # alarm threshold h: 250 value-units


@register(
    "events_cusum_drift",
    f"""
WITH v AS (
  SELECT event_id, user_id, ts,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS v_u
  FROM events
),
tgt AS (
  SELECT CAST(SUM(v_u) // COUNT(*) AS BIGINT) AS target_u FROM v
),
c AS (
  SELECT v.event_id, v.user_id, v.ts,
         SUM(v.v_u - t.target_u - {_CUSUM_SLACK_U}) OVER (
           PARTITION BY v.user_id ORDER BY v.ts, v.event_id
           ROWS UNBOUNDED PRECEDING) AS c_pos,
         SUM(t.target_u - v.v_u - {_CUSUM_SLACK_U}) OVER (
           PARTITION BY v.user_id ORDER BY v.ts, v.event_id
           ROWS UNBOUNDED PRECEDING) AS c_neg
  FROM v CROSS JOIN tgt t
),
s AS (
  SELECT event_id, user_id, ts,
         c_pos - LEAST(0, MIN(c_pos) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING)) AS s_pos,
         c_neg - LEAST(0, MIN(c_neg) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING)) AS s_neg
  FROM c
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(s_pos) AS BIGINT) AS max_pos_u,
       CAST(MAX(s_neg) AS BIGINT) AS max_neg_u,
       CAST(SUM(CASE WHEN s_pos >= {_CUSUM_H_U}
                       OR s_neg >= {_CUSUM_H_U} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarm_events,
       (MIN(CASE WHEN s_pos >= {_CUSUM_H_U} OR s_neg >= {_CUSUM_H_U}
                 THEN struct_pack(ts := ts, eid := event_id) END)).eid
         AS first_alarm_event_id
FROM s
GROUP BY user_id
ORDER BY user_id
""",
    "events", "drift", "cusum", "quality",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detection (Page 1954) per user over
    the event value stream — the sequential-drift audit the
    distribution-snapshot tests (``orders_price_ks`` / ``_psi``) cannot
    express: a mean shift ONSET inside a window, located to the event.

    The clamped recursion s_i = max(0, s_{{i-1}} + x_i − t − k) has the
    prefix closed form s_i = c_i − min(0, min_{{j≤i}} c_j) with
    c = running sum of (x − t − k) — so the whole detector is TWO
    stacked window passes over one user-keyed sort (running sum, then
    running min), no recursion, no UDF, exact int64 micro-units
    end-to-end (value quantized by explicit FLOOR — Spark's double cast
    truncates while DuckDB's rounds, so the floor is spelled out on both
    engines; target is the truncating global mean).  Emits per user the max positive/negative excursions,
    the count of above-threshold events, and the first alarm's event id.

    Scale posture: ONE user-keyed exchange feeds every window (same
    partitioning for all four window specs and the final aggregate); the
    target is a 1-row broadcast scalar.  100 TB honesty: per-user state
    is O(1) either side of the window sort, and the same closed form is
    what ``applyInPandasWithState`` would carry across micro-batches in
    the streaming version."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_u"),
    )
    # Floor division in exact integer arithmetic: DuckDB's `//` floors
    # while Spark's DIV truncates toward zero, which diverges the moment
    # SUM(v_u) goes negative (values can be < 0 in general).  Subtracting
    # pmod first makes the dividend exactly divisible, so DIV == floor.
    tgt = v.agg(
        F.expr(
            "CAST((SUM(v_u) - pmod(SUM(v_u), COUNT(*)))"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("target_u")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = v.crossJoin(F.broadcast(tgt)).select(
        "event_id",
        "user_id",
        "ts",
        F.sum(
            F.col("v_u") - F.col("target_u") - F.lit(_CUSUM_SLACK_U)
        ).over(w).alias("c_pos"),
        F.sum(
            F.col("target_u") - F.col("v_u") - F.lit(_CUSUM_SLACK_U)
        ).over(w).alias("c_neg"),
    )
    s = c.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("c_pos") - F.least(F.lit(0), F.min("c_pos").over(w))).alias(
            "s_pos"
        ),
        (F.col("c_neg") - F.least(F.lit(0), F.min("c_neg").over(w))).alias(
            "s_neg"
        ),
    )
    alarm = (F.col("s_pos") >= _CUSUM_H_U) | (F.col("s_neg") >= _CUSUM_H_U)
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("s_pos").cast("bigint").alias("max_pos_u"),
            F.max("s_neg").cast("bigint").alias("max_neg_u"),
            F.sum(F.when(alarm, 1).otherwise(0))
            .cast("bigint")
            .alias("n_alarm_events"),
            # first alarm = earliest by (ts, event_id): event ids are
            # NOT contractually monotone in ts, and the streaming twin's
            # state merge composes chronologically (r10b review finding)
            F.min(F.when(alarm, F.struct(F.col("ts"), F.col("event_id"))))[
                "event_id"
            ].alias("first_alarm_event_id"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# IVF operating-point sweep: recall@k vs cells probed
# ---------------------------------------------------------------------------

_NPROBE_GRID = (1, 2, 3, 4, 8)


@register(
    "ann_ivf_nprobe_sweep", None,
    "similarity", "ann", "ivf", "eval", "sweep",
)
def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-tuning curve: recall@5 against the exact baseline
    as a function of cells probed (nprobe ∈ {1, 2, 3, 4, 8} of 8) — the
    operating-point table an index owner actually reads (the
    ``docs_quality_classifier_sweep`` pattern applied to the retrieval
    stack).  The index is built ONCE (the cached ``ivf_index_for``
    lifecycle) and served at every operating point; the truth list is
    one exact decimal top-k pass shared across the sweep.

    Rows-only (KMeans centroids are not SQL-expressible); pins:
    macro-recall is non-decreasing in nprobe, and probing ALL cells is
    EXACT (recall ≡ 1.0 — every corpus vector's assignment cells are a
    subset of the probed set), so the curve's ceiling is verified, not
    assumed.  Emits (n_probe_cells, n_probes, sum_truth, sum_hit,
    macro_recall_u) in half-up micro-units."""
    from functools import reduce

    from ..operators import similarity as SIM
    from .text_queries import ivf_index_for

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    # the exact all-pairs truth list is consumed by all five sweep
    # points: persist it so the union plan computes it once, not once
    # per operating point (r13 optimization — lazy persist, not an eager
    # checkpoint, so the single truth pass still overlaps the sweep
    # branches inside the one union job)
    from pyspark.storagelevel import StorageLevel

    truth = SIM.cosine_topk(emb, probes, k=5).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    index = ivf_index_for(spark, sf_dir, n_cells=8, n_assign=2)
    frames = []
    for m in _NPROBE_GRID:
        pred = SIM.ivf_query(index, probes, k=5, n_probe_cells=m)
        rec = SIM.recall_at_k(pred, truth, k=5)
        frames.append(
            rec.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_probes"),
                F.sum("n_truth").cast("bigint").alias("sum_truth"),
                F.sum("n_hit").cast("bigint").alias("sum_hit"),
            ).select(
                F.lit(m).cast("int").alias("n_probe_cells"),
                "n_probes",
                "sum_truth",
                "sum_hit",
                F.expr(
                    "CAST((2000000 * sum_hit + sum_truth)"
                    " DIV (2 * sum_truth) AS BIGINT)"
                ).alias("macro_recall_u"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), frames).orderBy(
        "n_probe_cells"
    )


# ---------------------------------------------------------------------------
# Split-conformal gate on the model-based quality filter
# ---------------------------------------------------------------------------

_CONF_ALPHAS_U = (50_000, 100_000, 200_000)  # alpha in micro-units
_CONF_N_CAL = 200


@register(
    "docs_quality_conformal", None,
    "ml", "quality", "conformal", "calibration",
)
def docs_quality_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the model-based quality gate
    (Vovk et al.; the split-conformal form of Papadopoulos et al. 2002):
    instead of gating on an arbitrary probability threshold, pick the
    cut from a held-out calibration set so that, under exchangeability,
    at least 1−α of truly-keepable documents survive the filter — the
    "don't silently throw away good training data" guarantee a curation
    pipeline owner actually wants.

    Split discipline: the model trains on the md5 TOP-400 ids
    (``fit_quality_model``'s draw, replayed here as an explicit rank so
    the training set can be EXCLUDED); calibration takes the md5 BOTTOM
    ``_CONF_N_CAL`` weak-positives among NON-training docs, evaluation
    is the non-training remainder.  The anti-join is load-bearing, not
    belt-and-suspenders: at sf0.001 the corpus (500 docs) is smaller
    than train_n + n_cal, so without it ≥100 calibration docs would be
    in-sample, their scores biased high, and the conformal guarantee
    void (r10b review finding).  Nonconformity for a keep-labeled doc is
    1e6 − model_score_u; the gate is the ceil((n+1)(1−α))-th smallest
    calibration nonconformity (the standard finite-sample quantile).
    Emits one row per α: (alpha_u, n_cal, q_u, n_eval_pos, n_covered,
    coverage_u) — rows-only (MLlib scores), with pins: coverage within
    finite-sample slack of 1−α and monotone in α.

    Scale posture: score once (narrow transform over one corpus scan,
    the docs_quality_classifier plan), calibrate on a bounded frame, and
    the per-α gate is a broadcast scalar comparison — the sweep costs
    one extra aggregate per α over the already-scored frame."""
    from functools import reduce

    from ..ml import quality as Q
    from .pipeline_queries import quality_rule_set

    docs = _t(spark, sf_dir, "documents")
    base = Q.weak_label_frame(docs, quality_rule_set()).cache()
    model = Q.fit_quality_model(base)
    scored = (
        Q.score_corpus(base, model)
        .withColumn("_h", F.md5(F.col("doc_id").cast("string")))
        .cache()
    )
    base.unpersist()
    # replay fit_quality_model's training draw (md5 ASC top-400) so both
    # calibration and evaluation can exclude in-sample docs — in-sample
    # scores are biased high and would void the conformal guarantee
    w_asc = Window.orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    tagged = scored.withColumn("_train_rk", F.row_number().over(w_asc))
    pos = tagged.filter(
        F.col("heuristic_keep") & (F.col("_train_rk") > 400)
    )
    # calibration: md5 BOTTOM n among held-out weak-positives; n adapts
    # to at most HALF the held-out pool so evaluation is never empty
    # (the sf0.001 fixture holds out only ~100 docs)
    pool_n = pos.count()
    n_cal_target = min(_CONF_N_CAL, pool_n // 2)
    w_desc = Window.orderBy(F.col("_h").desc(), F.col("doc_id").desc())
    cal = (
        pos.withColumn("_rk", F.row_number().over(w_desc))
        .filter(F.col("_rk") <= n_cal_target)
        .select(
            "doc_id",
            (F.lit(1_000_000) - F.col("model_score_u")).alias("nc_u"),
        )
        .cache()
    )
    cal_ids = [r.doc_id for r in cal.select("doc_id").collect()]
    n_cal = len(cal_ids)
    frames = []
    for alpha_u in _CONF_ALPHAS_U:
        # rank of the conformal quantile: ceil((n+1) * (1 - alpha))
        rank = -(-(n_cal + 1) * (1_000_000 - alpha_u) // 1_000_000)
        rank = min(rank, n_cal)
        w_nc = Window.orderBy(F.col("nc_u").asc(), F.col("doc_id"))
        q_row = (
            cal.withColumn("_r", F.row_number().over(w_nc))
            .filter(F.col("_r") == rank)
            .select(F.col("nc_u").alias("q_u"))
        )
        ev = pos.filter(~F.col("doc_id").isin(cal_ids)).crossJoin(
            F.broadcast(q_row)
        )
        frames.append(
            ev.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_eval_pos"),
                F.sum(
                    F.when(
                        F.lit(1_000_000) - F.col("model_score_u")
                        <= F.col("q_u"),
                        1,
                    ).otherwise(0)
                ).cast("bigint").alias("n_covered"),
                F.max("q_u").cast("bigint").alias("q_u"),
            ).select(
                F.lit(alpha_u).cast("bigint").alias("alpha_u"),
                F.lit(n_cal).cast("bigint").alias("n_cal"),
                "q_u",
                "n_eval_pos",
                "n_covered",
                F.expr(
                    "CAST((2000000 * n_covered + n_eval_pos)"
                    " DIV (2 * n_eval_pos) AS BIGINT)"
                ).alias("coverage_u"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), frames).orderBy("alpha_u")


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest over the event stream
# ---------------------------------------------------------------------------


@register(
    "events_forecast_snaive",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS v_u
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT a.event_type, a.h, a.v_u, b.v_u AS pred_u
  FROM hourly a
  JOIN hourly b ON b.event_type = a.event_type
               AND b.h = a.h - INTERVAL 24 HOURS
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(ABS(v_u - pred_u)) AS BIGINT) AS sum_abs_err_u,
       CAST(SUM(v_u - pred_u) AS BIGINT) AS sum_err_u,
       CAST((2 * SUM(ABS(v_u - pred_u)) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS mae_u
FROM scored
GROUP BY event_type
ORDER BY event_type
""",
    "events", "forecast", "backtest", "seasonal-naive",
)
def events_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real
    forecasting deployment must beat (M-competition convention): predict
    each (event_type, hour)'s total value by the SAME hour one day
    earlier, scored only where the 24h-lag hour exists (an equi-join on
    the shifted hour key, so calendar gaps never misalign the way a
    row-offset LAG would).  Exact int64 micro-units; the signed error is
    emitted as a SUM (never divided — Spark DIV truncates toward zero
    while DuckDB // floors, and the signed sum can be negative), MAE as
    a half-up division of the non-negative absolute sum.

    Scale posture: one hourly aggregate (map-side combinable), then a
    self-equi-join on (event_type, shifted hour) — both sides are the
    SAME aggregated dim frame, hour-cardinality not event-cardinality."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_u"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("v_u").cast("bigint").alias("v_u"))
    )
    pred = hourly.select(
        "event_type",
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("v_u").alias("pred_u"),
    )
    scored = hourly.join(pred, ["event_type", "h"])
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum(F.abs(F.col("v_u") - F.col("pred_u")))
            .cast("bigint")
            .alias("sum_abs_err_u"),
            F.sum(F.col("v_u") - F.col("pred_u"))
            .cast("bigint")
            .alias("sum_err_u"),
        )
        .select(
            "event_type",
            "n_hours",
            "sum_abs_err_u",
            "sum_err_u",
            F.expr(
                "CAST((2 * sum_abs_err_u + n_hours)"
                " DIV (2 * n_hours) AS BIGINT)"
            ).alias("mae_u"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM: the stateful-ingest twin with a FULL value oracle
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = CATALOG["events_cusum_drift"].oracle


@register(
    "stream_cusum_drift",
    _CUSUM_ORACLE,
    "streaming", "events", "drift", "cusum", "foreachBatch",
    twin_of="events_cusum_drift",
    twin_pin="tests/test_round10b.py::test_stream_cusum_twin",
)
def stream_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_cusum_drift: events arrive as three
    time-ordered micro-batches (global ts ntiles — a fixture-builder
    sort, not an engine pattern); each batch's excursions are computed
    from the SAME two stacked windows as the batch entry, continued
    across batches by the O(1)-per-user prefix-sum state
    ``(c_last, m = min(0, min prefix c))`` —
    ``streaming.jobs.run_streaming_cusum``.  Because that state makes
    the drained result batch-split-INVARIANT, this is the third
    stateful-streaming entry carrying a FULL value oracle: the SQL is
    the batch detector verbatim.  The target is the frozen offline
    corpus mean (prebuilt-scalar serving convention)."""
    from ..streaming import jobs as SJ

    ev = _t(spark, sf_dir, "events")
    # Same explicit-floor division as the batch detector (pmod trick):
    # keeps the frozen target identical to the oracle's `//` semantics
    # even for negative sums.
    target_u = ev.agg(
        F.expr(
            "CAST((SUM(CAST(FLOOR(value * 1000000) AS BIGINT))"
            " - pmod(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)),"
            " COUNT(*))) DIV COUNT(*) AS BIGINT)"
        ).alias("t")
    ).collect()[0].t

    wall = Window.orderBy("ts", "event_id")
    tiled = ev.select("event_id", "user_id", "ts", "value").withColumn(
        "_b", F.ntile(3).over(wall) - 1
    )
    work = SJ.stage_microbatches(
        "stream_cusum_drift",
        sf_dir,
        lambda: [tiled.filter(F.col("_b") == b).drop("_b") for b in range(3)],
    )
    flat = f"{work}/batches"

    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    SJ.run_streaming_cusum(
        stream,
        target_u,
        _CUSUM_SLACK_U,
        _CUSUM_H_U,
        f"{work}/state",
        f"{work}/ckpt",
    )
    versions = SJ.mv_versions(spark, f"{work}/state")
    state = spark.read.parquet(f"{work}/state/v{versions[-1]}")
    return state.select(
        "user_id",
        "n_events",
        "max_pos_u",
        "max_neg_u",
        "n_alarm_events",
        "first_alarm_event_id",
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Mixture drift monitor: served vs target allocation (KL in micro-nats)
# ---------------------------------------------------------------------------


@register(
    "docs_mix_drift_kl",
    f"""
WITH {_UNIMAX_CTES},
{_UNIMAX_SAMPLE_CTES},
served AS (
  SELECT source, CAST(SUM(n_tok * (e + extra)) AS BIGINT) AS served
  FROM sel WHERE e + extra > 0 GROUP BY source
),
tots AS (SELECT CAST(SUM(served) AS BIGINT) AS s_tot FROM served),
base AS (
  SELECT a.source, a.alloc, COALESCE(sv.served, 0) AS served,
         t.s_tot, tt.budget AS b_tot
  FROM alloc a
  LEFT JOIN served sv ON sv.source = a.source
  CROSS JOIN tots t CROSS JOIN tot tt
)
SELECT source,
       CAST(alloc AS BIGINT) AS target_tokens,
       CAST(served AS BIGINT) AS served_tokens,
       CAST(s_tot AS BIGINT) AS served_total,
       CAST(b_tot AS BIGINT) AS target_total,
       CASE WHEN served > 0 THEN
         CAST(FLOOR(ln(CAST(served AS DOUBLE) * CAST(b_tot AS DOUBLE)
                       / (CAST(alloc AS DOUBLE) * CAST(s_tot AS DOUBLE)))
                    * 1000000 + 0.5) AS BIGINT)
       END AS lnratio_u,
       CASE WHEN served > 0 THEN
         CAST(served * CAST(FLOOR(
           ln(CAST(served AS DOUBLE) * CAST(b_tot AS DOUBLE)
              / (CAST(alloc AS DOUBLE) * CAST(s_tot AS DOUBLE)))
           * 1000000 + 0.5) AS BIGINT) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS contrib_num
FROM base
ORDER BY source
""",
    "mixture", "monitoring", "kl", "drift",
)
def docs_mix_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift monitor — the third leg of the mixture lifecycle
    (spec: ``docs_unimax_mix`` → apply: ``docs_unimax_sample`` →
    MONITOR): per domain, how far the tokens actually SERVED by the
    greedy epoch sampler drift from the water-filling target, as the
    per-domain KL contribution served·ln((served/S)/(alloc/B)) — the
    quantity whose sum is S·KL(served ‖ target), the standard mixture
    health metric.

    Numeric discipline (the docs_dsir_importance pattern): the ONLY
    transcendental is one ln per DOMAIN (a 20-row dim at any corpus
    scale), rounded half-up to micro-nats via FLOOR(x·1e6 + 0.5)
    (identical on both engines given identical doubles; measured
    boundary margins ≥ 5.2e-3 across committed sfs vs a ≤ 1e-9 ulp
    shift — audited in tests); the per-domain contribution is the exact
    int64 product served × lnratio_u, and totals are emitted as SUMS
    with both denominators (never a signed division — Spark DIV
    truncates where DuckDB // floors).  A zero-served domain contributes
    0 (the p·ln p limit) with NULL lnratio_u.

    Scale posture: one corpus token-count pass + the sample's
    source-partitioned window (both already audited), then everything
    runs on the domain dim."""
    alloc = _unimax_alloc(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    doc = docs.select(
        "doc_id",
        "source",
        F.size(TF.tokens("text")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sel = (
        doc.withColumn("cum", F.sum("n_tok").over(w))
        .join(F.broadcast(alloc), "source")
        .select(
            "source",
            "n_tok",
            (
                F.expr("alloc DIV n")
                + F.when(F.col("cum") <= F.expr("alloc % n"), 1).otherwise(0)
            ).alias("copies"),
        )
        .filter(F.col("copies") > 0)
    )
    served = sel.groupBy("source").agg(
        F.sum(F.col("n_tok") * F.col("copies")).cast("bigint").alias("served")
    )
    tots = served.agg(F.sum("served").cast("bigint").alias("s_tot"))
    b_tot = alloc.agg(F.sum("alloc").cast("bigint").alias("b_tot"))
    base = (
        alloc.join(served, "source", "left")
        .na.fill({"served": 0})
        .crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(b_tot))
    )
    lnr = F.floor(
        F.log(
            F.col("served").cast("double")
            * F.col("b_tot").cast("double")
            / (F.col("alloc").cast("double") * F.col("s_tot").cast("double"))
        )
        * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("bigint")
    return base.select(
        "source",
        F.col("alloc").cast("bigint").alias("target_tokens"),
        F.col("served").cast("bigint").alias("served_tokens"),
        F.col("s_tot").alias("served_total"),
        F.col("b_tot").alias("target_total"),
        F.when(F.col("served") > 0, lnr).alias("lnratio_u"),
        F.when(F.col("served") > 0, F.col("served") * lnr)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("contrib_num"),
    ).orderBy("source")

"""Round-6 breadth pack: the physical-layout and corpus-statistics
operations that decide what a 100 TB scan COSTS before any query runs —

- orders_mv_merge:        incremental materialized-view maintenance
                          (merge delta partials into stored MV state;
                          history is never re-aggregated);
- lineitem_zorder_layout: Z-order (Morton) clustering audit — per-range-
                          bucket bounding boxes proving multi-dimensional
                          locality;
- lineitem_skipping_stats: min-max data-skipping manifest under two
                          candidate shard layouts + the pruning dividend
                          for a date-range predicate, in one scan;
- docs_bigram_pmi:        PMI collocation mining (phrase detection for
                          tokenizer/vocabulary curation);
- docs_quality_zscore:    per-domain quality standardization (outliers
                          against each source's own distribution).

Oracle discipline (see catalog.py header): integer/bit arithmetic and
DECIMAL folds wherever exactness is needed; single-ln double expressions
with identical association order and 6-decimal rounding where not (the
unigram_logprob lesson).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import layout as LY
from ..operators import text as TX
from ..streaming import jobs as SJ
from .catalog import _t, register
from .text_queries import (
    _AUG_CTE,
    _D_FP,
    _D_TOKS,
    _QU_EXPR_SQL,
    _QU_MOMENTS_SQL,
    _STOP_SQL,
)

# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------

_MV_SPLIT = "1997-01-01 00:00:00"


@register(
    "orders_mv_merge",
    """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
       MAX(o_orderdate) AS max_date
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
    "layout", "materialized-view", "incremental", "merge",
)
def orders_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance (operators.layout.orders_mv_partial /
    mv_merge): the per-customer order aggregate is maintained by merging
    the post-split delta's PARTIAL state into the pre-split base state —
    union of two key-sized partial frames + one re-fold, never a rescan
    of history.  The oracle is the from-scratch aggregate over all
    orders: algebraic-merge correctness is exactly "merged == full
    recompute".  At 100 TB the base frame is the stored MV read back
    keyed (facts: O(delta)); here both partials are built in-query so
    the equivalence is end-to-end checkable."""
    orders = _t(spark, sf_dir, "orders")
    split = F.lit(_MV_SPLIT).cast("timestamp")
    base = LY.orders_mv_partial(orders.filter(F.col("o_orderdate") < split))
    delta = LY.orders_mv_partial(orders.filter(F.col("o_orderdate") >= split))
    return (
        LY.mv_merge(base, delta)
        .select(
            "o_custkey",
            "n_orders",
            F.col("_sum_dec").cast("double").alias("sum_total"),
            "max_date",
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Z-order clustering audit
# ---------------------------------------------------------------------------

_Z_BITS = 8
_Z_BUCKETS = 32


def _interleave_sql(xa: str, ya: str, bits: int) -> str:
    """The Morton-interleave fold as portable integer SQL — the same
    shift/mask terms ``operators.layout._interleave`` builds as Columns."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xa} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({ya} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@register(
    "lineitem_zorder_layout",
    f"""
WITH mm AS (
  SELECT MIN(l_partkey) AS minx, MAX(l_partkey) AS maxx,
         MIN(l_suppkey) AS miny, MAX(l_suppkey) AS maxy
  FROM lineitem
),
b AS (
  SELECT LEAST({(1 << _Z_BITS) - 1},
               ((l_partkey - minx) * {1 << _Z_BITS}) // (maxx - minx + 1)) AS bx,
         LEAST({(1 << _Z_BITS) - 1},
               ((l_suppkey - miny) * {1 << _Z_BITS}) // (maxy - miny + 1)) AS yb
  FROM lineitem CROSS JOIN mm
),
z AS (
  SELECT bx, yb, {_interleave_sql("bx", "yb", _Z_BITS)} AS zval FROM b
)
SELECT CAST((zval * {_Z_BUCKETS}) // {1 << (2 * _Z_BITS)} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(bx) AS min_x_bin, MAX(bx) AS max_x_bin,
       MIN(yb) AS min_y_bin, MAX(yb) AS max_y_bin
FROM z
GROUP BY bucket
ORDER BY bucket
""",
    "layout", "zorder", "clustering",
)
def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit (operators.layout.zorder_values /
    zorder_extent_report): lineitem keyed by the Morton interleave of
    (l_partkey, l_suppkey) 8-bit bins, folded per range bucket (what a
    ``repartitionByRange(32, zval)`` write would co-locate) into the
    bucket's bounding box in bin space.  The payoff is visible in the
    result: each bucket covers a ~45-of-256-wide square of BOTH key
    ranges, so a predicate on either key prunes ~/sqrt instead of
    nothing — the multi-dimensional clustering every lake format's
    OPTIMIZE ZORDER runs.  Pure per-row integer bit math (min/max
    scalars are a 1-row broadcast) + one keyed agg."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = LY.zorder_values(li, "l_partkey", "l_suppkey", bits=_Z_BITS)
    return LY.zorder_extent_report(z, bits=_Z_BITS, n_buckets=_Z_BUCKETS).orderBy(
        "bucket"
    )


# ---------------------------------------------------------------------------
# Min-max data-skipping manifest + pruning dividend
# ---------------------------------------------------------------------------

_SKIP_LO = "1998-01-01 00:00:00"
_SKIP_HI = "1998-12-31 23:59:59"
_SKIP_PRED = (
    f"max_v < TIMESTAMP '{_SKIP_LO}' OR min_v > TIMESTAMP '{_SKIP_HI}'"
)


@register(
    "lineitem_skipping_stats",
    f"""
WITH m AS (
  SELECT 'hash' AS layout, l_orderkey % 64 AS shard,
         COUNT(*) AS n_rows, MIN(l_shipdate) AS min_v, MAX(l_shipdate) AS max_v
  FROM lineitem GROUP BY layout, shard
  UNION ALL
  SELECT 'bydate', CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT),
         COUNT(*), MIN(l_shipdate), MAX(l_shipdate)
  FROM lineitem GROUP BY 1, 2
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_shards,
       CAST(SUM(CASE WHEN {_SKIP_PRED} THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
       CAST(SUM(CASE WHEN {_SKIP_PRED} THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
       CAST(SUM(CASE WHEN {_SKIP_PRED} THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
FROM m
GROUP BY layout
ORDER BY layout
""",
    "layout", "data-skipping", "minmax", "manifest",
)
def lineitem_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping manifest + pruning dividend (operators.layout
    .skipping_manifest / pruning_report): per-shard min-max l_shipdate
    stats under two candidate layouts — hash-on-orderkey (ingest order)
    vs. ship-month — computed in ONE scan (each row explodes into two
    narrow (layout, shard) tags), then folded into the pruning outcome
    for a 1998 date-range predicate.  The result says what re-clustering
    buys BEFORE paying for it: the hash layout skips 0 of 64 shards,
    the date layout skips every non-1998 month.  This is the stats
    table lake formats keep per file, as an operator."""
    li = _t(spark, sf_dir, "lineitem")
    manifest = LY.skipping_manifest(
        li,
        {
            "hash": F.col("l_orderkey") % 64,
            "bydate": F.year("l_shipdate") * 12 + F.month("l_shipdate"),
        },
        "l_shipdate",
    )
    report = LY.pruning_report(
        manifest,
        _dt.datetime(1998, 1, 1, 0, 0, 0),
        _dt.datetime(1998, 12, 31, 23, 59, 59),
    )
    return report.orderBy("layout")


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------


@register(
    "docs_bigram_pmi",
    f"""
WITH tk AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
pairs AS (
  SELECT toks[i] AS t1, toks[i + 1] AS t2
  FROM (SELECT unnest(range(1, len(toks))) AS i, toks FROM tk WHERE len(toks) >= 2)
),
cb AS (
  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM pairs GROUP BY t1, t2
),
cu AS (
  SELECT t, COUNT(*) AS c FROM (SELECT unnest(toks) AS t FROM tk) GROUP BY t
),
nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM cu),
nb AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n_bi FROM cb)
SELECT t1, t2, c_xy,
       ROUND(ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni)
                / (n_bi * CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE))), 6) AS pmi
FROM cb
JOIN cu cx ON cb.t1 = cx.t
JOIN cu cy ON cb.t2 = cy.t
CROSS JOIN nu CROSS JOIN nb
WHERE c_xy >= 3
ORDER BY pmi DESC, t1, t2
LIMIT 50
""",
    "text", "pmi", "collocations", "phrases",
)
def docs_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (operators.text.bigram_pmi): top-50
    bigrams by ln(P(xy)/(P(x)P(y))), min count 3 — the phrase-detection
    pass of tokenizer/vocabulary curation.  Bigrams form in-row (token
    array zipped with its own tail: no positional self-join), the vocab
    broadcasts back onto the count-filtered bigram frame, and the PMI
    argument is one double division of integer-exact products so the
    only engine-variant op is the final ln, absorbed by 6-decimal
    rounding."""
    docs = _t(spark, sf_dir, "documents")
    return TX.bigram_pmi(docs, min_count=3, top_k=50)


# ---------------------------------------------------------------------------
# Per-domain quality standardization
# ---------------------------------------------------------------------------

@register(
    "docs_quality_zscore",
    f"""
WITH s AS (SELECT source, text, {_D_TOKS} AS toks FROM documents),
b AS (SELECT source, {_QU_MOMENTS_SQL} FROM s),
q AS (SELECT source, {_QU_EXPR_SQL} AS qu FROM b),
st AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(qu) AS BIGINT) AS sum_qu,
         CAST(SUM(qu * qu) AS BIGINT) AS sum_qu2
  FROM q GROUP BY source
),
d AS (
  SELECT source, n_docs, sum_qu, sum_qu2,
         CAST(sum_qu AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean,
         sqrt(GREATEST(CAST(sum_qu2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
              - (CAST(sum_qu AS DOUBLE) / CAST(n_docs AS DOUBLE))
                * (CAST(sum_qu AS DOUBLE) / CAST(n_docs AS DOUBLE)), 0.0)) AS sd
  FROM st
),
o AS (
  SELECT q.source,
         CAST(SUM(CASE WHEN abs(CAST(q.qu AS DOUBLE) - d.mean) > 2.0 * d.sd
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM q JOIN d ON q.source = d.source GROUP BY q.source
)
SELECT d.source, d.n_docs, d.sum_qu, d.sum_qu2, o.n_outliers
FROM d JOIN o ON d.source = o.source
ORDER BY d.source
""",
    "text", "quality", "zscore", "calibration",
)
def docs_quality_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality calibration (operators.text
    .quality_zscore_by_source): per-source moments of the INTEGER
    micro-unit quality (quality_score_exact — r7 hash-surface
    hardening; the pre-r7 surface summed ROUND()ed floats, the exact
    failure mode that burned dedup_canonical_best in r6), plus the
    |z| > 2 outlier count against the source's OWN distribution — the
    step that stops a global quality cut from flattening one domain.
    mean/sd stay internal doubles derived from the exact integer sums
    with a fixed expression order (every op IEEE-correctly-rounded from
    exact inputs → engine-stable compare); the hash surface itself is
    all BIGINT.  The domain-sized stats table broadcasts back for the
    outlier compare; the corpus never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_zscore_by_source(docs).orderBy("source")


# ---------------------------------------------------------------------------
# Vocabulary coverage curve
# ---------------------------------------------------------------------------

_VOCAB_SIZES = (5, 10, 20)


@register(
    "docs_vocab_coverage",
    f"""
WITH tok AS (SELECT unnest({_D_TOKS}) AS t FROM documents),
cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
rk AS (SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM cnt),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt)
SELECT v.vocab_size,
       CAST(SUM(CASE WHEN rk.rn <= v.vocab_size THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN rk.rn <= v.vocab_size THEN rk.c ELSE 0 END) AS BIGINT) AS covered_tokens,
       MIN(tot.total) AS total_tokens,
       ROUND(CAST(SUM(CASE WHEN rk.rn <= v.vocab_size THEN rk.c ELSE 0 END) AS DOUBLE)
             / CAST(MIN(tot.total) AS DOUBLE), 6) AS coverage
FROM rk CROSS JOIN tot
CROSS JOIN (VALUES (5), (10), (20)) AS v(vocab_size)
GROUP BY v.vocab_size
ORDER BY v.vocab_size
""",
    "text", "vocabulary", "coverage", "tokenizer",
)
def docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage curve (operators.text
    .vocab_coverage): token coverage of the top-V most frequent types for
    V in (5, 10, 20) — the report behind a vocabulary-size cut.  One
    explode feeds the type counts, one vocabulary-bounded ordered window
    assigns ranks, and a single conditional agg emits every V at once;
    `stack` unpivots the 1-row result."""
    docs = _t(spark, sf_dir, "documents")
    return TX.vocab_coverage(docs, sizes=_VOCAB_SIZES).orderBy("vocab_size")


# ---------------------------------------------------------------------------
# Quality-aware canonical dedup
# ---------------------------------------------------------------------------

from .text_queries import _AUG_CTE, _COMPONENT_CTES  # noqa: E402

_AUG_XTAIL_CTE = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' xtail' AS text
FROM documents WHERE doc_id % 10 = 0
""".strip()

# the full minhash pipeline + recursive component closure, re-derived over
# the near-dup (' xtail') corpus instead of the exact-copy one: only the
# aug CTE differs, so the substitution keeps every shared constant aligned
_COMPONENT_XTAIL_CTES = _COMPONENT_CTES.replace(_AUG_CTE, _AUG_XTAIL_CTE)


@register(
    "dedup_canonical_best",
    f"""
{_COMPONENT_XTAIL_CTES},
qual AS (
  SELECT doc_id, {_QU_EXPR_SQL} AS quality_u
  FROM (
    SELECT doc_id, {_QU_MOMENTS_SQL}
    FROM (SELECT doc_id, text, {_D_TOKS} AS toks FROM aug)
  )
),
ranked AS (
  SELECT c.doc_id,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY q.quality_u DESC, c.doc_id) AS rn
  FROM comp c JOIN qual q ON q.doc_id = c.doc_id
)
SELECT g.doc_id, q.quality_u
FROM aug g JOIN qual q ON q.doc_id = g.doc_id
WHERE g.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
ORDER BY g.doc_id
""",
    "dedup", "components", "canonical", "quality",
)
def dedup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical corpus (operators.dedup
    .canonical_docs_best): near-dup clusters (minhash pairs over a
    ' xtail'-perturbed corpus, so duplicates genuinely differ in quality)
    keep their HIGHEST-quality member, tie → min id — versus
    ``dedup_canonical_docs``' min-id convention.  The ranking window is
    per-component (cluster-sized); the corpus rides only the final
    anti-join.

    r7 hash-surface hardening: the ranking key and the emitted score are
    ``quality_u`` — quality_score_exact's pure-int64 micro-unit fold —
    after the r6 driver row proved the float ``ROUND(Σ 0.25·term, 6)``
    surface DuckDB-build-sensitive (values bit-identical locally, hash
    FAIL on the driver box; and a boundary flip on a float RANK could
    change WHICH doc is canonical, not just a printed digit)."""
    from ..operators import dedup as DD

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.union(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" xtail")).alias("text"),
        )
    )
    pairs = DD.minhash_dedup_pairs(spark, aug, threshold=0.5)
    comps = DD.connected_components(pairs)
    qual = TX.quality_score_exact(aug).select("doc_id", "quality_u")
    return (
        DD.canonical_docs_best(qual, comps, qual, quality_col="quality_u")
        .select("doc_id", "quality_u")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Streaming compact-state MV maintenance
# ---------------------------------------------------------------------------

@register(
    "stream_mv_maintenance", None,
    "streaming", "materialized-view", "incremental", "foreachBatch",
)
def stream_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming compact-state MV maintenance end-to-end (streaming.jobs
    .run_streaming_mv_merge → read_mv_state): the events table arrives as
    THREE micro-batches (user_id mod-3 slices, mtime-ordered), and each
    batch's per-user partials are merged into the previous MV version —
    read-modify-write over key-sized state, versioned for idempotent
    replay.  Returns the final MV ordered by user.  Rows-only: equality
    with the from-scratch batch aggregate and the ≥2-version merge path
    are pinned in tests/test_round6.py; the driver row proves the write
    path runs under a vanilla session.

    The work dir is memoized per sf_dir and cleaned at exit (repeated
    calls resume the checkpoint: a drained source adds no batches and the
    state re-reads the same latest version)."""
    def frames():
        ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
        return [ev.filter(F.pmod(F.col("user_id"), F.lit(3)) == i) for i in range(3)]

    work = SJ.stage_microbatches("stream_mv_maintenance", sf_dir, frames)
    flat = f"{work}/batches"

    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    SJ.run_streaming_mv_merge(
        stream, f"{work}/state", f"{work}/ckpt", key="user_id"
    )
    mv = SJ.read_mv_state(spark, f"{work}/state")
    return mv.select(
        "user_id",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        F.col("max_ts").cast("string").alias("max_ts"),
    ).orderBy("user_id")


@register(
    "docs_training_export",
    f"""
WITH aug AS ({{AUG}}),
t AS (
  SELECT doc_id, text, {_D_TOKS} AS toks FROM aug
),
m AS (
  SELECT doc_id, text, toks,
         length(text) >= 100 AS p_chars,
         len(toks) >= 20 AS p_tokens,
         CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) >= 0.5 AS p_alpha,
         CAST(len(list_filter(toks, s -> list_contains({_STOP_SQL}, s))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) <= 0.3 AS p_stop
  FROM t
),
kept AS (
  SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM m WHERE p_chars AND p_tokens AND p_alpha AND p_stop
),
fp AS (
  SELECT doc_id, n_tokens, {{FP}} AS f FROM kept
),
canon AS (
  SELECT doc_id, n_tokens FROM (
    SELECT doc_id, n_tokens,
           MIN(doc_id) OVER (PARTITION BY f) AS keep_id
    FROM fp) x
  WHERE doc_id = keep_id
),
r AS (
  SELECT doc_id, n_tokens, md5(CAST(doc_id AS VARCHAR)) AS rk FROM canon
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY rk, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM r
),
samp AS (SELECT doc_id, n_tokens FROM c WHERE cum <= 20000),
p AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
  FROM samp
)
SELECT CAST(FLOOR((cum2 - n_tokens) / 512.0) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
FROM p GROUP BY bin_id ORDER BY bin_id
""".format(AUG=_AUG_CTE, FP=_D_FP),
    "pipeline", "composition", "export", "end-to-end",
)
def docs_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data export — the four pipeline stages a
    real curation run chains, composed as ONE lazy plan and value-oracled
    through every stage boundary: C4/Gopher quality filter → exact
    content dedup (min-id canonical) → deterministic 20k-token budget
    slice (md5-shuffled two-phase prefix sum) → 512-token greedy packing
    with the ordered doc-id manifest.  Input is the dup-augmented corpus
    so the dedup stage provably removes rows.

    Each stage is an already-oracled operator (docs_filter_chain,
    dedup_exact, docs_token_budget_sample, docs_pack_manifest); this
    entry proves the COMPOSITION — one Catalyst plan, no materialization
    between stages, filters pruning before any shuffle, the only global
    ordering a 256-row bucket-offset table inside the distributed prefix
    sum.  This is the "switch your pipeline to this repo" demo: the
    manifest it returns is what a training loader consumes.
    """
    from ..functions import textfns as TF
    from ..operators import pipeline as PL
    from .text_queries import _aug

    aug = _aug(spark, sf_dir)
    text = F.col("text")
    toks = TF.tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in TF.STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    rules = [
        ("min_chars", F.length(text) >= 100),
        ("min_tokens", F.size(toks) >= 20),
        (
            "alpha_ratio",
            F.length(F.regexp_replace(text, r"[^A-Za-z ]", "")).cast("double")
            / F.length(text).cast("double")
            >= 0.5,
        ),
        (
            "stopword_ratio",
            n_stop.cast("double") / F.size(toks).cast("double") <= 0.3,
        ),
    ]
    flags = PL.filter_chain(aug, rules)
    kept = aug.join(flags.filter(F.col("keep")).select("doc_id"), "doc_id")
    fp = kept.select(
        "doc_id", "text", TF.content_fingerprint("text").alias("_f")
    )
    keepers = fp.groupBy("_f").agg(F.min("doc_id").alias("doc_id"))
    canon = kept.join(keepers.select("doc_id"), "doc_id")
    samp = PL.sample_token_budget(canon, 20_000).select("doc_id")
    packed = PL.pack_manifest(
        canon.join(samp, "doc_id").withColumn("_part", F.lit("all")),
        budget=512,
        part_col="_part",
    )
    return packed.select(
        "bin_id",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("bin_tokens").cast("bigint").alias("bin_tokens"),
        "doc_ids",
    ).orderBy("bin_id")


@register(
    "stream_join_mv", None,
    "streaming", "materialized-view", "join", "dimension-change",
    "foreachBatch",
)
def stream_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JOIN-MV maintenance with a dimension change mid-stream
    (streaming.jobs.run_streaming_join_mv): events arrive as two
    micro-batches; between them the user→segment dimension is REWRITTEN
    (every user moves one segment over), and the second batch joins the
    NEW dimension — attribution-at-ingest semantics.  Returns the final
    per-segment MV.  Rows-only (stateful streaming loop); equality with
    the per-phase batch recomputation (half0 ⋈ dim_v1 ∪ half1 ⋈ dim_v2)
    and idempotent replay are pinned in tests/test_round6.py.

    This is the MERGE-on-read composition the catalog previously lacked:
    the maintained state is an ENRICHED aggregate, so correctness
    depends on WHICH dim version each batch saw — exactly what the
    versioned read-modify-write makes auditable.
    """
    import os

    def build(work: str) -> None:
        ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
        users = ev.select("user_id").distinct()
        halves = f"{work}/halves"
        for i in range(2):
            ev.filter(F.pmod(F.col("user_id"), F.lit(2)) == i).coalesce(
                1
            ).write.parquet(f"{halves}/h{i}")
        in_dir = f"{work}/in"
        os.makedirs(in_dir)

        def _write_dim(shift: int) -> None:
            users.select(
                "user_id",
                F.concat(
                    F.lit("seg_"),
                    F.pmod(F.col("user_id") + shift, F.lit(3)).cast("string"),
                ).alias("segment"),
            ).coalesce(1).write.mode("overwrite").parquet(f"{work}/dim")

        schema = spark.read.parquet(f"{halves}/h0").schema

        def _drain() -> None:
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            SJ.run_streaming_join_mv(
                stream, f"{work}/dim", f"{work}/state", f"{work}/ckpt"
            )

        SJ.promote_batch(f"{halves}/h0", in_dir, 0)
        _write_dim(0)
        _drain()              # batch 0 joins dim v1
        _write_dim(1)         # every user moves one segment over
        SJ.promote_batch(f"{halves}/h1", in_dir, 1)
        _drain()              # batch 1 joins dim v2, merged onto v0 state

    work = SJ.workdir("stream_join_mv", sf_dir, build)
    mv = SJ.read_mv_state(spark, f"{work}/state")
    return mv.select(
        "segment",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        F.col("max_ts").cast("string").alias("max_ts"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Z-order write path: real clustered files + file-level manifest
# ---------------------------------------------------------------------------

@register(
    "lineitem_zorder_export", None,
    "layout", "zorder", "write", "manifest",
)
def lineitem_zorder_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order WRITE path made real (operators.layout.zorder_write →
    file_extent_report): lineitem's (l_partkey, l_suppkey) projection is
    range-partitioned on the Morton code into 16 sorted parquet files,
    then the per-FILE min-max manifest is recovered by scan — the
    file-level stats a lake format would commit, proving each written
    file covers a compact square of BOTH key ranges.  Rows-only: range
    boundaries come from ``repartitionByRange``'s distribution sampling
    (balanced, not bit-aligned), so exact per-file counts are not
    SQL-replayable; z-range disjointness across files and the
    secondary-dimension locality dividend vs. a 1-D sorted write are
    pinned in tests/test_round6.py.

    The layout is written once into the entry's registry work dir."""

    def build(work: str) -> None:
        li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
        LY.zorder_write(li, "l_partkey", "l_suppkey", f"{work}/table", n_files=16)

    work = SJ.workdir("lineitem_zorder_export", sf_dir, build)
    rep = LY.file_extent_report(
        spark, f"{work}/table", ("zval", "_bx", "_by")
    )
    return rep.select(
        "file_rank",
        "n_rows",
        "min_zval",
        "max_zval",
        F.col("min__bx").alias("min_x_bin"),
        F.col("max__bx").alias("max_x_bin"),
        F.col("min__by").alias("min_y_bin"),
        F.col("max__by").alias("max_y_bin"),
    ).orderBy("file_rank")

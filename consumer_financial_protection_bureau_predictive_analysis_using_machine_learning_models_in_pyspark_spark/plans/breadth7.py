"""Round-7 breadth pack: the two batch-assembly steps between a curated
corpus and a training run that the catalog did not yet cover —

- docs_pack_sequences:  fixed-length sequence packing WITH document
  splitting (the real pretraining contract: the token stream is cut
  every seq_len tokens, docs straddle boundaries, and the loader needs
  the per-sequence doc-span map to reset attention masks);
- docs_domain_reweight: DoReMi-flavored multiplicative-weights mixture
  optimization over domains, iterated in exact int64 micro-unit
  arithmetic so the 3-step trajectory replays bit-for-bit in the
  unrolled-CTE DuckDB oracle (the r7 integer-surface discipline applied
  to an ITERATIVE algorithm, like the decimal pagerank loop).

Both ride the shared tokenization/quality SQL of text_queries so every
constant stays aligned across the Spark plan and the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cache as CACHE
from ..operators import pipeline as PL
from .catalog import _inputs, _t, register
from .text_queries import _D_TOKS, _QU_EXPR_SQL, _QU_MOMENTS_SQL

_SEQ_LEN = 128


@register(
    "docs_pack_sequences",
    f"""
WITH t AS (
  SELECT doc_id, CAST(len({_D_TOKS}) AS BIGINT) AS nt FROM documents
),
c AS (
  SELECT doc_id, nt,
         CAST(SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM t WHERE nt >= 1
),
sp AS (
  SELECT doc_id, cum - nt AS gstart, cum,
         CAST(unnest(range((cum - nt) // {_SEQ_LEN},
                           (cum - 1) // {_SEQ_LEN} + 1)) AS BIGINT) AS seq_id
  FROM c
)
SELECT seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(LEAST(cum - seq_id * {_SEQ_LEN}, {_SEQ_LEN})
                - GREATEST(gstart - seq_id * {_SEQ_LEN}, 0)) AS BIGINT)
         AS n_tokens,
       string_agg(doc_id || ':' || GREATEST(gstart - seq_id * {_SEQ_LEN}, 0)
                         || '-' || LEAST(cum - seq_id * {_SEQ_LEN}, {_SEQ_LEN}),
                  ',' ORDER BY GREATEST(gstart - seq_id * {_SEQ_LEN}, 0))
         AS segments
FROM sp GROUP BY seq_id ORDER BY seq_id
""",
    "pipeline", "packing", "sequences", "split", "training-loader",
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-aware sequence packing (operators.pipeline.pack_sequences,
    seq_len=128): every sequence except the last is exactly full, docs
    cross boundaries, and ``segments`` is the ordered doc-span map in
    within-sequence token coordinates.  The global prefix sum runs as the
    two-phase bucket form (256-row offset table; no global-sort window);
    the oracle replays the same intervals with a plain ordered window —
    fine at oracle scale, the thing the distributed form exists to
    avoid."""
    docs = _t(spark, sf_dir, "documents")
    return PL.pack_sequences(docs, seq_len=_SEQ_LEN)


def _mw_avg_cte(src: str) -> str:
    return (
        f"SELECT CAST((2 * SUM(w * mloss_u) + SUM(w)) // (2 * SUM(w))"
        f" AS BIGINT) AS avg_u FROM {src}"
    )


def _mw_step_cte(src: str, avg: str) -> str:
    return f"""
SELECT source, n_docs, mloss_u,
       CAST((2 * (w * (1000000 + (GREATEST(mloss_u - {avg}.avg_u, 0) + 1) // 2))
             + 1000000) // 2000000 AS BIGINT) AS w
FROM {src} CROSS JOIN {avg}
""".strip()


# the shared 3-iteration MW trajectory (moments -> losses -> w0..u3),
# reused verbatim by docs_domain_reweight and docs_reweighted_sample so
# the optimize and apply entries can never drift apart
_MW_CTES = f"""
s AS (SELECT source, text, {_D_TOKS} AS toks FROM documents),
b AS (SELECT source, {_QU_MOMENTS_SQL} FROM s),
q AS (SELECT source, {_QU_EXPR_SQL} AS qu FROM b),
g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(qu) AS BIGINT) AS sum_qu
  FROM q GROUP BY source
),
w0 AS (
  SELECT source, n_docs,
         CAST((2 * (4000000 * n_docs - sum_qu) + n_docs) // (2 * n_docs)
              AS BIGINT) AS mloss_u,
         CAST(1000000 AS BIGINT) AS w
  FROM g
),
a1 AS ({_mw_avg_cte('w0')}),
u1 AS ({_mw_step_cte('w0', 'a1')}),
a2 AS ({_mw_avg_cte('u1')}),
u2 AS ({_mw_step_cte('u1', 'a2')}),
a3 AS ({_mw_avg_cte('u2')}),
u3 AS ({_mw_step_cte('u2', 'a3')})
""".strip()


@register(
    "docs_domain_reweight",
    f"""
WITH {_MW_CTES}
SELECT u1.source, u1.n_docs, u1.mloss_u,
       u1.w AS w1, u2.w AS w2, u3.w AS w3
FROM u1
JOIN u2 ON u1.source = u2.source
JOIN u3 ON u1.source = u3.source
ORDER BY u1.source
""",
    "pipeline", "mixture", "doremi", "multiplicative-weights", "iterative",
)
def docs_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored domain reweighting (operators.pipeline
    .domain_reweight_mw): 3 multiplicative-weights iterations over the
    per-domain mean quality-deficit loss proxy, entirely in int64
    micro-units with half-up integer divisions, so the trajectory —
    including the per-iteration weighted-average recomputation that
    makes domains interact — is bit-exact against the unrolled-CTE
    oracle.  The corpus is scanned once; iterations touch only the
    domain-sized weight frame."""
    docs = _t(spark, sf_dir, "documents")
    return PL.domain_reweight_mw(docs, iterations=3)


# ---------------------------------------------------------------------------
# Product quantization ADC (the PQ half of IVF-PQ serving)
# ---------------------------------------------------------------------------

_PQ_M = 8          # subspaces
_PQ_K = 16         # centroids per subspace (sampled: vec_id < 16)
_PQ_SUBDIM = 8     # 64-dim fixture / 8 subspaces

# per-subspace decimal dot between two embeddings over subspace s
# (dims s*8+1 .. s*8+8), matching operators.similarity.dot_decimal's
# double-product -> DECIMAL(20,15) fold
_PQ_SUBDOT = (
    "SUM(CAST(CAST({a}.embedding[{s} * 8 + j.j] AS DOUBLE)"
    " * CAST({b}.embedding[{s} * 8 + j.j] AS DOUBLE) AS DECIMAL(20,15)))"
)


# Offline PQ artifacts (codebook + corpus codes) per (files, session) —
# the same build-once lifecycle as text_queries.ivf_index_for: serving
# entries must measure the QUERY path, not re-pay the offline encode per
# call.  Deterministic, so caching cannot change values.
def pq_artifacts_for(
    spark: SparkSession, sf_dir: str, m: int = _PQ_M, k: int = _PQ_K
) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes) for the embeddings table, persisted + memoized."""
    from ..operators import similarity as SIM

    def build():
        from pyspark import StorageLevel

        emb = _t(spark, sf_dir, "embeddings")
        cb = SIM.pq_codebook(emb, m, k)
        codes = SIM.pq_assign_codes(emb, cb, m).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        codes.count()  # materialize: the "index is on disk" contract
        return (cb, codes), [codes]

    return CACHE.memo(
        "pq_artifacts_for", (sf_dir, m, k), spark, build, _inputs(sf_dir, "embeddings")
    )


@register(
    "ann_pq_adc_topk",
    f"""
WITH j AS (SELECT unnest(range(1, {_PQ_SUBDIM + 1})) AS j),
cb AS (
  -- mirror pq_codebook's ordered-first-k selection (cid = dense rank in
  -- id order), NOT a literal vec_id < k filter: identical on the
  -- dense-from-0 fixtures, and stays correct on sparse/offset id
  -- corpora — the exact case the engine side was fixed for (r8 review
  -- finding: the oracle had kept the old literal-filter semantics)
  SELECT s.s AS s, fk.cid, fk.embedding
  FROM (
    SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
    FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
  ) fk CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS s) s
),
cdot AS (
  SELECT e.vec_id, c.s, c.cid,
         {_PQ_SUBDOT.format(a='e', b='c', s='c.s')} AS d
  FROM embeddings e CROSS JOIN cb c CROSS JOIN j
  GROUP BY e.vec_id, c.s, c.cid
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d DESC, cid) AS rn
    FROM cdot
  ) x WHERE rn = 1
),
lut AS (
  SELECT p.vec_id AS probe_id, c.s, c.cid,
         {_PQ_SUBDOT.format(a='p', b='c', s='c.s')} AS pd
  FROM embeddings p CROSS JOIN cb c CROSS JOIN j
  WHERE p.vec_id < 10
  GROUP BY p.vec_id, c.s, c.cid
),
sc AS (
  SELECT l.probe_id, co.vec_id AS neighbor_id, SUM(l.pd) AS adc_dec
  FROM codes co JOIN lut l ON l.s = co.s AND l.cid = co.cid
  WHERE co.vec_id <> l.probe_id
  GROUP BY l.probe_id, co.vec_id
)
SELECT probe_id, neighbor_id,
       ROUND(CAST(adc_dec AS DOUBLE), 6) AS adc_score,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY adc_dec DESC, neighbor_id) AS rank
  FROM sc
) r WHERE rank <= 5
""",
    "similarity", "ann", "pq", "adc", "quantization",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (operators.similarity.pq_adc_topk;
    probes vec_id < 10, sampled 16-centroid codebooks over 8 subspaces):
    the corpus side of the scoring join carries only 8 small ints per
    vector — the 32x-memory PQ serving structure (compose with the IVF
    cell filter for full IVF-PQ) — and every ranking-path value is exact
    decimal, so codes, lookup tables, ADC sums, and the top-5 cut all
    replay bit-exactly in this unrolled-SQL oracle.  Recall vs the exact
    ann_cosine_topk baseline is pinned in tests/test_round7.py.  Serves
    from the cached offline artifacts (pq_artifacts_for) — the entry
    measures ADC scoring, not the per-call encode."""
    from ..operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    cb, codes = pq_artifacts_for(spark, sf_dir)
    return SIM.pq_adc_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        m=_PQ_M,
        k_codebook=_PQ_K,
        k=5,
        codes=codes,
        codebook=cb,
    )


@register(
    "docs_reweighted_sample",
    f"""
WITH {_MW_CTES},
wt AS (SELECT source, n_docs, w FROM u3),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot,
         CAST(SUM(w) AS BIGINT) AS w_tot
  FROM wt
),
keepf AS (
  SELECT source, n_docs, w,
         LEAST(1.0, 0.5 * (CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE))
                        * (CAST(n_tot AS DOUBLE) / CAST(n_docs AS DOUBLE)))
           AS keep
  FROM wt CROSS JOIN tot
)
SELECT d.source,
       MIN(k.n_docs) AS n_total,
       CAST(MIN(k.w) AS BIGINT) AS mix_weight,
       FLOOR(MIN(k.keep) * 1e6 + 0.5) / 1e6 AS keep_frac,
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM documents d
JOIN keepf k ON d.source = k.source
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
        / POWER(16, 13) < k.keep
GROUP BY d.source
ORDER BY d.source
""",
    "sampling", "mixture", "doremi", "apply", "deterministic",
)
def docs_reweighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step closing the mixture-optimization loop:
    docs_domain_reweight's final integer weights (w3) become the target
    mixture, realized at half the corpus by
    operators.sampling.weighted_mixture_sample's deterministic
    md5-Bernoulli — docs_temperature_mix's machinery with the
    heuristic share^alpha weights replaced by the OPTIMIZED ones.  The
    oracle replays the whole optimize→apply composition (the MW CTEs
    are shared verbatim with the reweight entry), so a drift in either
    half fails the hash.  Reports per source: corpus count, weight,
    keep fraction, kept count."""
    from ..operators import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    rw = PL.domain_reweight_mw(docs, iterations=3)
    kept = SA.weighted_mixture_sample(
        docs,
        rw.select("source", F.col("w3").alias("w")),
        group_col="source",
        id_col="doc_id",
        weight_col="w",
        target_frac=0.5,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.min("group_total").alias("n_total"),
            F.min("mix_weight").cast("bigint").alias("mix_weight"),
            F.min("keep_frac").alias("keep_frac"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        )
        .select("source", "n_total", "mix_weight", "keep_frac", "n_kept")
        .orderBy("source")
    )


@register(
    "ann_ivfpq_topk", None,  # rows-only: the IVF coarse quantizer is
    # MLlib KMeans (codebook not SQL-expressible); recall + full-scan
    # ADC consistency are pinned in tests/test_round7.py
    "similarity", "ann", "ivf", "pq", "adc", "serving",
    twin_of="ann_pq_adc_topk",
    twin_pin="tests/test_round7.py::test_ivfpq_consistent_with_full_scan_adc",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ serving (operators.similarity.ivfpq_topk) from the
    persisted IVF index: the coarse quantizer prunes candidates to the
    probe's 3 cells, PQ-ADC scores the survivors — the query path
    touches cell-membership ids and 8 ints of code per candidate, never
    a float corpus vector.  The composition ann_pq_adc_topk's docstring
    promises, as a catalog entry: cells bound the candidate count
    (IVF), codes bound the bytes per candidate (PQ)."""
    from ..operators import similarity as SIM
    from .text_queries import ivf_index_for

    idx = ivf_index_for(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    cb, codes = pq_artifacts_for(spark, sf_dir)
    return SIM.ivfpq_topk(
        idx,
        emb.filter(F.col("vec_id") < 10),
        m=_PQ_M,
        k_codebook=_PQ_K,
        k=5,
        n_probe_cells=3,
        codes=codes,
        codebook=cb,
    )


_EP_N, _EP_SHARDS = 2, 8


@register(
    "docs_epoch_shuffle",
    f"""
WITH e AS (
  SELECT doc_id, n_chars, CAST(unnest(range(0, {_EP_N})) AS INT) AS epoch
  FROM documents
),
k AS (
  SELECT epoch, doc_id, n_chars,
         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
           AS order_key
  FROM e
),
s AS (
  SELECT epoch, n_chars, order_key,
         CAST(CAST(('0x' || substr(order_key, 1, 13)) AS BIGINT)
              % {_EP_SHARDS} AS INT) AS shard_id
  FROM k
)
SELECT epoch, shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(order_key) AS first_key,
       MAX(order_key) AS last_key
FROM s
GROUP BY epoch, shard_id
ORDER BY epoch, shard_id
""",
    "layout", "shuffle", "epochs", "sharding", "training-loader",
)
def docs_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(epoch, shard) manifest of the deterministic multi-epoch
    training shuffle (operators.layout.epoch_shuffle): every epoch
    permutes the corpus by an epoch-salted md5 rank and hash-shards it,
    with NO global sort anywhere — the writer realizes the order as
    partitionBy(shard) + sortWithinPartitions(order_key).  The manifest
    folds each shard's doc/char balance plus its first/last order keys
    (the replay cursor a resumable loader checkpoints).  Cross-epoch
    decorrelation (a doc's epoch-0 and epoch-1 shards agree only at the
    1/{_EP_SHARDS} chance rate) is pinned in tests/test_round7.py."""
    from ..operators import layout as LY

    docs = _t(spark, sf_dir, "documents")
    shuffled = LY.epoch_shuffle(
        docs, n_epochs=_EP_N, n_shards=_EP_SHARDS
    ).join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        shuffled.groupBy("epoch", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("order_key").alias("first_key"),
            F.max("order_key").alias("last_key"),
        )
        .orderBy("epoch", "shard_id")
    )


@register(
    "events_peak_concurrency",
    """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 600000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
  FROM flagged
),
iv AS (
  SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
  FROM sess GROUP BY user_id, session_id
),
pts0 AS (
  SELECT ts, CAST(SUM(ns) AS BIGINT) AS ns, CAST(SUM(ne) AS BIGINT) AS ne
  FROM (
    SELECT st AS ts, 1 AS ns, 0 AS ne FROM iv
    UNION ALL
    SELECT en AS ts, 0 AS ns, 1 AS ne FROM iv
  ) u GROUP BY ts
),
span AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM pts0
),
syn AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS TIMESTAMP)
           AS ts,
         CAST(0 AS BIGINT) AS ns, CAST(0 AS BIGINT) AS ne
  FROM span
),
pts AS (
  SELECT ts, CAST(SUM(ns) AS BIGINT) AS ns, CAST(SUM(ne) AS BIGINT) AS ne
  FROM (SELECT * FROM pts0 UNION ALL SELECT * FROM syn) d GROUP BY ts
),
act AS (
  SELECT CAST(ts AS DATE) AS day, ts, ns, ne,
         CAST(SUM(ns) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - (SUM(ne) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ne)
            AS BIGINT) AS active
  FROM pts
),
mx AS (SELECT day, MAX(active) AS mxa FROM act GROUP BY day),
daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(ns) AS BIGINT) AS n_started,
         CAST(SUM(ne) AS BIGINT) AS n_ended
  FROM pts GROUP BY CAST(ts AS DATE)
)
SELECT CAST(a.day AS VARCHAR) AS day,
       CAST(m.mxa AS BIGINT) AS max_concurrent,
       CAST(MIN(a.ts) AS VARCHAR) AS peak_ts,
       MIN(d.n_started) AS n_started,
       MIN(d.n_ended) AS n_ended
FROM act a
JOIN mx m ON a.day = m.day AND a.active = m.mxa
JOIN daily d ON d.day = a.day
GROUP BY a.day, m.mxa
ORDER BY a.day
""",
    "analytics", "sweep-line", "concurrency", "sessions", "window",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrent user sessions (operators.windows
    .concurrency_sweep over the 10-minute-gap sessions of
    events_sessionize): the number of sessions simultaneously open,
    with the earliest instant attaining each day's peak.

    The classic formulation is either an O(n²) interval self-join or a
    single globally-ordered running sum (a one-task funnel at 100 TB).
    The operator runs the HIERARCHICAL sweep-line instead — within-day
    windows in parallel plus a calendar-day-sized base-offset frame —
    while this oracle computes the naive single global window, so the
    driver's hash check IS the proof that the two-phase decomposition
    equals the textbook sweep.  Inclusive end semantics: touching
    intervals count as concurrent."""
    from ..operators import windows as W
    from ..streaming import windows as SW

    ev = _t(spark, sf_dir, "events")
    stats = SW.session_stats(ev, "ts", ["user_id"], gap_seconds=600)
    out = W.concurrency_sweep(stats, "session_start", "session_end")
    return out.select(
        F.col("day").cast("string").alias("day"),
        "max_concurrent",
        F.col("peak_ts").cast("string").alias("peak_ts"),
        "n_started",
        "n_ended",
    ).orderBy("day")


_CK_MOD = 1_000_000_007


def _ck_key_col():
    """The orders checksum key rendering (ints/strings/dates only)."""
    return F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit("|"),
        F.col("o_orderstatus"),
        F.lit("|"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )


def _ck_month_col():
    return F.date_format("o_orderdate", "yyyy-MM")


@register(
    "orders_partition_checksums",
    f"""
WITH r AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(('0x' || substr(md5(
            CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
              || strftime(o_orderdate, '%Y-%m-%d')
         ), 1, 13)) AS BIGINT) % {_CK_MOD} AS v
  FROM orders
)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) % {_CK_MOD} AS BIGINT) AS checksum
FROM r
GROUP BY month
ORDER BY month
""",
    "quality", "checksum", "replica-audit", "manifest",
)
def orders_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-partition content checksums — the replica-
    divergence audit: two copies of a 100 TB table are compared by
    exchanging one row per partition (month, n_rows, checksum), never
    data.  Each row contributes md5(key fields) folded to a 13-hex-digit
    int mod {_CK_MOD}; the partition checksum is the modular SUM, so it
    is insensitive to row order / partitioning / file layout — exactly
    the properties a physical sync (or this engine vs the reference
    store) must ignore — while any dropped, duplicated, or key-mutated
    row flips it.  One scan, one keyed agg; no shuffle wider than the
    month key.  NULL in any keyed field nulls that row's contribution
    in BOTH engines (concat propagates NULL; SUM skips it) — fail-
    closed discipline per the r6 quality-gate convention.  Floats are
    deliberately excluded from the hashed rendering (double→string
    formatting is engine-specific); value drift in measures is the
    drift family's job (orders_price_psi/_ks).  The fold itself is
    operators.metrics.partition_checksum — the ONE definition every
    batch/streaming/reconcile call site shares."""
    from ..operators import metrics as M

    return (
        M.partition_checksum(
            _t(spark, sf_dir, "orders"), _ck_month_col(), _ck_key_col()
        )
        .withColumnRenamed("part", "month")
        .orderBy("month")
    )


@register(
    "stream_checksum_mv", None,
    "streaming", "checksum", "replica-audit", "incremental", "foreachBatch",
    twin_of="orders_partition_checksums",
    twin_pin="tests/test_round7.py::test_stream_checksum_mv_equals_batch_fold",
)
def stream_checksum_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the partition-checksum audit (streaming.jobs
    .run_streaming_checksum_mv): the events table arrives as THREE
    micro-batches (event_id mod-3 slices, mtime-ordered) and each
    batch's per-month partial checksum merges into stored state by
    modular addition — the mergeability of the fold IS the reason this
    manifest can be maintained at ingest cost instead of by rescan.
    Returns the final per-month state.  Rows-only (stateful streaming);
    equality with the from-scratch batch fold over the whole table and
    idempotent batch replay are pinned in tests/test_round7.py."""
    from ..streaming import jobs as SJ

    def frames():
        ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
        return [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)]

    work = SJ.stage_microbatches("stream_checksum_mv", sf_dir, frames)
    flat = f"{work}/batches"

    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    SJ.run_streaming_checksum_mv(stream, f"{work}/state", f"{work}/ckpt")
    mv = SJ.read_mv_state(spark, f"{work}/state")
    return mv.select("month", "n_rows", "checksum").orderBy("month")


@register(
    "orders_replica_reconcile",
    f"""
WITH rep AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 997 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_orderdate
  FROM orders
),
ca AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(('0x' || substr(md5(
            CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
              || strftime(o_orderdate, '%Y-%m-%d')
         ), 1, 13)) AS BIGINT) % {_CK_MOD}) % {_CK_MOD} AS BIGINT) AS checksum
  FROM orders GROUP BY month
),
cb AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(('0x' || substr(md5(
            CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
              || strftime(o_orderdate, '%Y-%m-%d')
         ), 1, 13)) AS BIGINT) % {_CK_MOD}) % {_CK_MOD} AS BIGINT) AS checksum
  FROM rep GROUP BY month
),
bad AS (
  SELECT ca.month FROM ca JOIN cb ON ca.month = cb.month
  WHERE ca.checksum <> cb.checksum OR ca.n_rows <> cb.n_rows
)
SELECT strftime(a.o_orderdate, '%Y-%m') AS month,
       a.o_orderkey,
       a.o_orderstatus AS status_left,
       r.o_orderstatus AS status_right
FROM orders a
JOIN rep r ON a.o_orderkey = r.o_orderkey
WHERE strftime(a.o_orderdate, '%Y-%m') IN (SELECT month FROM bad)
  AND a.o_orderstatus <> r.o_orderstatus
ORDER BY a.o_orderkey
""",
    "quality", "checksum", "reconciliation", "cdc", "two-phase",
)
def orders_replica_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase replica reconciliation end-to-end — the composition the
    checksum manifest exists for: phase 1 compares the per-month
    checksums of two replicas (one row per partition crosses the wire,
    never data); phase 2 drills into ONLY the mismatched months with a
    row-level key join and reports the differing fields.  At 100 TB with
    month as the physical partition key, phase 2's scans are
    partition-pruned to the damaged months — reconciliation cost scales
    with the size of the DAMAGE, not the table.

    The divergent replica is derived deterministically (status flipped
    to 'X' where o_orderkey % 997 = 0) so the whole pipeline — fold,
    compare, drill-down — replays in the oracle.  Integer/string
    surfaces only."""
    orders = _t(spark, sf_dir, "orders")
    replica = orders.select(
        "o_orderkey",
        F.when(F.pmod(F.col("o_orderkey"), F.lit(997)) == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_orderdate",
    )

    from ..operators import metrics as M

    def _chk(df: DataFrame) -> DataFrame:
        # the shared fold (operators.metrics.partition_checksum) with
        # the shared orders key rendering — byte-for-byte the manifest
        # entry's definition, so compare and manifest can never drift
        return M.partition_checksum(
            df, _ck_month_col(), _ck_key_col()
        ).withColumnRenamed("part", "month")

    ca = _chk(orders)
    cb = _chk(replica)
    bad = (
        ca.alias("a")
        .join(cb.alias("b"), "month")
        .filter(
            (F.col("a.checksum") != F.col("b.checksum"))
            | (F.col("a.n_rows") != F.col("b.n_rows"))
        )
        .select("month")
    )
    # bad months are a calendar-bounded dim: broadcast semi-join prunes
    # the row-level phase to damaged partitions only
    left = orders.withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    ).join(F.broadcast(bad), "month", "left_semi")
    return (
        left.alias("l")
        .join(
            replica.select(
                "o_orderkey", F.col("o_orderstatus").alias("status_right")
            ),
            "o_orderkey",
        )
        .filter(F.col("l.o_orderstatus") != F.col("status_right"))
        .select(
            "month",
            "o_orderkey",
            F.col("l.o_orderstatus").alias("status_left"),
            "status_right",
        )
        .orderBy("o_orderkey")
    )


@register(
    "stream_late_data_audit", None,
    "streaming", "watermark", "late-data", "audit",
)
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact watermark-drop accounting — the entry that PROVES what the
    watermark does instead of just configuring it.  Three staged
    micro-batches: (0) the events table; (1) 7 'late_probe' rows whose
    timestamps sit at the corpus START (hours below the watermark once
    batch 0 has been seen) plus 7 'ontime_probe' rows 30 minutes before
    the corpus end (late, but inside the 2 h watermark); (2) one
    'advance' row 3 h past the end, so the final watermark closes and
    emits the probe windows under append mode.

    The batches arrive as three SEQUENTIAL availableNow runs sharing one
    checkpoint — the restart-recovery deployment pattern, and the one
    where the watermark contract is load-bearing: each run restores the
    watermark from the checkpoint before reading new files (within a
    single run, Spark's late-record filtering across micro-batches is
    weaker — verified empirically — so the audit pins the cross-restart
    semantics a production job actually relies on).  The 2 h-watermarked
    hourly agg (streaming.jobs.windowed_counts) must contribute NOTHING
    from the 7 late probes to the sink and count EXACTLY the 7 on-time
    probes — per-type injected/streamed/dropped is the returned audit.
    Bounded state at 100 TB/day rests on this drop behavior; this pins
    it with exact counts (rows-only: stateful streaming semantics)."""
    import datetime as _dt
    import os

    from ..streaming import jobs as SJ

    def build(work: str) -> None:
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        b = ev.agg(
            F.min("ts").alias("lo"),
            F.max("ts").alias("hi"),
            F.max("event_id").alias("mid"),
        ).collect()[0]
        late = [
            (b.mid + 1 + i, b.lo + _dt.timedelta(minutes=i), 0,
             "late_probe", 1.0)
            for i in range(7)
        ]
        ontime = [
            (b.mid + 101 + i,
             b.hi - _dt.timedelta(minutes=30) + _dt.timedelta(minutes=i),
             0, "ontime_probe", 1.0)
            for i in range(7)
        ]
        adv = [
            (b.mid + 1001, b.hi + _dt.timedelta(hours=3), 0, "advance", 1.0)
        ]
        in_dir = f"{work}/in"
        # base batch: a 1-in-50 sample — the audit pins watermark
        # SEMANTICS, not base-corpus throughput; probe placement uses
        # the full table's lo/hi bounds, and the watermark after b0
        # (max sampled ts - 2 h) preserves every pinned property
        # (late << wm; on-time > wm; advancer closes both)
        ev.filter(F.pmod(F.col("event_id"), F.lit(50)) == 0).coalesce(
            1
        ).write.parquet(f"{in_dir}/b0")
        for i, rows in ((1, late + ontime), (2, adv)):
            spark.createDataFrame(rows, schema=ev.schema).coalesce(
                1
            ).write.parquet(f"{in_dir}/b{i}")
        flat = f"{work}/batches"
        os.makedirs(flat)
        # one availableNow RUN per arriving file, shared checkpoint:
        # each run restores the watermark before reading new files
        for i in range(3):
            SJ.promote_batch(f"{in_dir}/b{i}", flat, i)
            schema = spark.read.parquet(flat).schema
            stream = (
                spark.readStream.schema(schema)
                .parquet(flat)
                # watermarks need TIMESTAMP (LTZ); fixture is NTZ
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
            w = (
                SJ.windowed_counts(stream)
                .writeStream.format("parquet")
                .option("path", f"{work}/out")
                .option("checkpointLocation", f"{work}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
            )
            with SJ.pinned_state_partitions(spark):
                w.start().awaitTermination()

    work = SJ.workdir("stream_late_data_audit", sf_dir, build)
    out = spark.read.parquet(f"{work}/out")
    streamed = (
        out.filter(F.col("event_type").isin("late_probe", "ontime_probe"))
        .groupBy("event_type")
        .agg(F.sum("n_events").cast("bigint").alias("n_streamed"))
    )
    injected = spark.createDataFrame(
        [("late_probe", 7), ("ontime_probe", 7)],
        "event_type: string, n_injected: long",
    )
    return (
        injected.join(streamed, "event_type", "left")
        .select(
            "event_type",
            F.col("n_injected").cast("bigint").alias("n_injected"),
            F.coalesce("n_streamed", F.lit(0))
            .cast("bigint")
            .alias("n_streamed"),
            (F.col("n_injected") - F.coalesce("n_streamed", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped_late"),
        )
        .orderBy("event_type")
    )

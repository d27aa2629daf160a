"""Round-3 breadth pack: reshape (pivot / unpivot), deterministic
stratified quota sampling, corpus-LM document scoring, and cosine range
search — operator families the catalog lacked, each oracle-checked.

Registered after the curated driver window (overflow region of
``__spark_entry__._PRIORITY``); correctness comes from the strict local
drive + pytest until a future window rotation gives them driver rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import reshape, sampling, similarity as SIM, text as TX
from .catalog import _t, register
from .text_queries import _ANN_DOT, _D_TOKS


@register(
    "orders_status_pivot",
    """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                  FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE) AS rev_f
FROM orders
GROUP BY order_month
ORDER BY order_month
""",
    "reshape", "pivot", "agg",
)
def orders_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order counts pivoted wide by status (+ one pivoted revenue
    column).  Pivot values are enumerated up front (operators.reshape
    contract): one partial+final hash aggregate, no distinct-scan job, and
    a stable output width whatever appears upstream."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        "o_orderstatus",
        "o_totalprice",
    )
    wide = reshape.pivot_agg(
        o,
        ["order_month"],
        "o_orderstatus",
        ["F", "O", "P"],
        F.struct(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev"),
        ),
    )
    return wide.select(
        "order_month",
        F.coalesce(F.col("F.n"), F.lit(0)).cast("bigint").alias("n_f"),
        F.coalesce(F.col("O.n"), F.lit(0)).cast("bigint").alias("n_o"),
        F.coalesce(F.col("P.n"), F.lit(0)).cast("bigint").alias("n_p"),
        F.round(F.col("F.rev"), 2).cast("double").alias("rev_f"),
    ).orderBy("order_month")


@register(
    "lineitem_unpivot",
    """
SELECT l_orderkey, l_linenumber, measure, value FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
         CAST(l_quantity AS DOUBLE) AS value
  FROM lineitem WHERE l_orderkey % 97 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
  FROM lineitem WHERE l_orderkey % 97 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
  FROM lineitem WHERE l_orderkey % 97 = 0
) u
ORDER BY l_orderkey, l_linenumber, measure
""",
    "reshape", "unpivot", "melt",
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt three lineitem measures into long (measure, value) rows via
    Spark-native unpivot — a single map-side Expand over one scan (the
    oracle's 3-way UNION ALL shape, without the three scans)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    return reshape.unpivot(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
    ).orderBy("l_orderkey", "l_linenumber", "measure")


@register(
    "docs_stratified_sample",
    """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) s WHERE rk <= 10
ORDER BY source, doc_id
""",
    "sampling", "stratified", "deterministic",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota sample (10 docs per source): hash-rank
    selection is a pure function of the data — exact quota per group and
    reproducible across engines (the oracle replays it), unlike Bernoulli
    sampleBy."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.stratified_quota_sample(docs, "source", quota=10, id_col="doc_id")
    return out.select("doc_id", "source").orderBy("source", "doc_id")


@register(
    "docs_unigram_logprob",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_D_TOKS}) AS t FROM documents
),
tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t
),
vocab AS (
  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf.tf * v.cnt) AS BIGINT) AS sum_tf_cnt,
       CAST(SUM(tf.tf * tf.tf * v.cnt) AS BIGINT) AS sum_tf2_cnt
FROM tf JOIN vocab v ON tf.t = v.t
GROUP BY tf.doc_id
ORDER BY tf.doc_id
""",
    "text", "lm", "quality",
)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram-LM scorer verification (operators.text
    .unigram_check_fold): the same explode→tf→vocab→broadcast-join plan
    as the production ``unigram_logprob`` scorer, driver-checked via
    EXACT integer moments (Σtf, Σtf·cnt, Σtf²·cnt) that pin the joined
    (tf, cnt) multiset per document.  The ln(p) fold itself is OFF the
    cross-engine surface by design: ``ROUND(ln(x), n)`` recomputed on two
    engines proved DuckDB-build-sensitive (driver hash FAIL in r4 AND r5
    while bit-exact locally — the driver box's libm lands a term on the
    other side of a rounding boundary).  ln values are pinned in pytest:
    a hand-computed exact check plus a DuckDB 1e-9 relative-tolerance
    cross-check (test_round3 / test_round6)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.unigram_check_fold(docs).select(
        "doc_id", "n_tokens", "sum_tf_cnt", "sum_tf2_cnt"
    ).orderBy("doc_id")


@register(
    "ann_range_search",
    f"""
WITH pairs AS ({_ANN_DOT})
SELECT probe_id, neighbor_id,
       ROUND(CAST(dot_dec AS DOUBLE), 6) AS cosine
FROM pairs
WHERE dot_dec >= CAST(0.35 AS DECIMAL(30,15))
ORDER BY probe_id, neighbor_id
""",
    "similarity", "range-search", "bruteforce",
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All neighbors with cosine >= 0.35 for probes vec_id < 10 — the
    recall-complete retrieval primitive top-k cannot express.  Map-side
    threshold filter; decimal-exact boundary."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.cosine_range_search(
        emb, emb.filter(F.col("vec_id") < 10), threshold=0.35
    )
    return out.orderBy("probe_id", "neighbor_id")


@register(
    "orders_scd2",
    """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         LAG(o_orderstatus) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev
  FROM orders
),
versions AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM ordered WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT o_custkey, o_orderstatus,
       CAST(o_orderdate AS VARCHAR) AS valid_from,
       CAST(LEAD(o_orderdate) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS VARCHAR) AS valid_to,
       LEAD(o_orderdate) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) IS NULL AS is_current
FROM versions
ORDER BY o_custkey, valid_from
""",
    "cdc", "scd2", "window",
)
def orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each customer's order status
    (operators.merge.scd2_history): consecutive unchanged states collapse;
    valid_from/valid_to intervals; one keyed shuffle, no global sort."""
    from ..operators import merge as MG

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    hist = MG.scd2_history(
        o,
        key_cols=["o_custkey"],
        state_cols=["o_orderstatus"],
        order_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )
    return hist.select(
        "o_custkey",
        "o_orderstatus",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    ).orderBy("o_custkey", "valid_from")


# Explicit half-up rounding (floor(x*1e6 + 0.5)/1e6) on BOTH sides: a
# fraction like 1/128 is an exact 7-decimal midpoint where Spark's
# HALF_UP and DuckDB's ROUND disagree at the last digit; the explicit
# formula is the same sequence of correctly-rounded double ops in any
# engine.
@register(
    "docs_boilerplate_spans",
    f"""
WITH tok AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]
                     || ' ' || toks[j+3] || ' ' || toks[j+4]))) AS g
  FROM tok WHERE len(toks) >= 5
),
gdf AS (SELECT g, COUNT(DISTINCT doc_id) AS d FROM grams GROUP BY g),
bp AS (SELECT g FROM gdf WHERE d >= 2),
per AS (
  SELECT grams.doc_id, COUNT(*) AS n_bp
  FROM grams JOIN bp ON grams.g = bp.g GROUP BY grams.doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_bp, 0) AS BIGINT) AS n_boilerplate,
       CASE WHEN COALESCE(t.n_grams, 0) > 0
            THEN FLOOR(CAST(COALESCE(p.n_bp, 0) AS DOUBLE) / t.n_grams
                       * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS boilerplate_fraction
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN per p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
""",
    "text", "boilerplate", "span-dedup",
)
def docs_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram span detection
    (operators.pipeline.boilerplate_spans): per-doc fraction of shingles
    shared with >= 2 documents — the span-level dedup signal."""
    from ..operators import pipeline as PL

    docs = _t(spark, sf_dir, "documents")
    out = PL.boilerplate_spans(docs, n=5, min_docs=2)
    return out.withColumn(
        "boilerplate_fraction",
        F.when(
            F.col("n_grams") > 0,
            F.floor(
                F.col("n_boilerplate") / F.col("n_grams") * 1_000_000 + 0.5
            )
            / 1_000_000,
        ).otherwise(F.lit(0.0)),
    ).orderBy("doc_id")


@register(
    "orders_rfm_segments",
    """
WITH rfm AS (
  SELECT o_custkey,
         CAST(MAX(o_orderdate) AS VARCHAR) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, last_order, frequency, monetary,
       CAST(NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS INTEGER) AS r_quartile,
       CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_quartile,
       CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_quartile
FROM rfm
ORDER BY o_custkey
""",
    "analytics", "rfm", "ntile", "window",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary per customer,
    quartiled with NTILE over a deterministic total order (value DESC,
    custkey tiebreak — equal values cannot flip buckets between runs).

    Scale: one hash aggregate over orders, then three NTILE windows over
    the CUSTOMER-cardinality frame (not the order fact).  A global NTILE
    is a range sort of the small aggregate — acceptable because the frame
    is one row per customer; quartiling the raw fact would be the bug.
    """
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").cast("string").alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("monetary"),
    )
    def q(col):
        return F.ntile(4).over(
            Window.orderBy(F.col(col).desc(), F.col("o_custkey"))
        ).cast("int")
    return rfm.select(
        "o_custkey", "last_order", "frequency", "monetary",
        q("last_order").alias("r_quartile"),
        q("frequency").alias("f_quartile"),
        q("monetary").alias("m_quartile"),
    ).orderBy("o_custkey")


@register(
    "events_rolling_mean_dev",
    """
WITH w AS (
  SELECT user_id, ts, value,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
         ) AS DOUBLE) AS win_sum,
         COUNT(*) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
         ) AS win_n
  FROM events
)
SELECT user_id, CAST(ts AS VARCHAR) AS ts, value,
       FLOOR(win_sum / win_n * 1000000 + 0.5) / 1000000 AS rolling_mean,
       FLOOR((value - win_sum / win_n) * 1000000 + 0.5) / 1000000 AS deviation
FROM w
ORDER BY user_id, ts
""",
    "analytics", "rolling", "window",
)
def events_rolling_mean_dev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-event mean and deviation per user — the windowed-frame
    stats primitive behind anomaly flags and smoothing.  The frame sum is
    an exact decimal fold (order-independent); mean/deviation use the
    explicit half-up rounding formula, so both engines emit identical
    doubles.  One keyed shuffle + partition-local sort; ROWS frames keep
    state bounded at 10 rows per user regardless of history length.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    win_sum = F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
    win_n = F.count(F.lit(1)).over(w)
    mean = win_sum / win_n
    return ev.select(
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        "value",
        (F.floor(mean * 1_000_000 + 0.5) / 1_000_000).alias("rolling_mean"),
        (F.floor((F.col("value") - mean) * 1_000_000 + 0.5) / 1_000_000).alias(
            "deviation"
        ),
    ).orderBy("user_id", "ts")


@register(
    "events_value_histogram",
    """
SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
       FLOOR(value / 25.0) * 25.0 AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY bucket, bucket_lo
ORDER BY bucket
""",
    "analytics", "histogram", "agg",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (25-unit buckets): the one-pass
    distribution profile a pipeline runs before choosing filters.  Bucket
    assignment is a pure projection (floor of a double divide — identical
    in any engine); one partial+final hash aggregate, output rows bounded
    by the bucket count, never the data."""
    ev = _t(spark, sf_dir, "events")
    b = F.floor(F.col("value") / 25.0)
    return (
        ev.groupBy(
            b.cast("bigint").alias("bucket"),
            (b * 25.0).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("bucket")
    )


@register("stream_minute_rollup", None, "streaming", "continuous-aggregate")
def stream_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming continuous-aggregate maintenance loop end-to-end
    (streaming.jobs.run_streaming_rollup → read_rollup): drain the events
    stream with availableNow, write idempotent per-batch minute partials
    under _batch_id partitions, then merge-on-read.  Rows-only: the
    equality with the batch rollup is pinned in tests/test_pipeline_ops
    (exact count-sum merge under the decimal fold); the driver row proves
    the full write-path runs under a vanilla session.

    The work dir is memoized per sf_dir and cleaned at exit (repeated
    calls resume the checkpoint: an already-drained source adds no
    batches and the rollup re-reads the same partials)."""
    from ..streaming import jobs as SJ

    work = SJ.workdir("stream_minute_rollup", sf_dir)
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    stream = SJ.read_events_stream(spark, sf_dir)
    SJ.run_streaming_rollup(stream, out, ckpt, level="minute")
    rollup = SJ.read_rollup(spark, out)
    return rollup.select(
        F.col("bucket_start").cast("string").alias("bucket_start"),
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("bucket_start", "event_type")


@register(
    "docs_weighted_sample",
    """
WITH u AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
           / POWER(16, 13) AS unif,
         LEAST(1.0, n_chars / 400.0) AS w
  FROM documents
)
SELECT doc_id, n_chars FROM u WHERE unif < w
ORDER BY doc_id
""",
    "sampling", "weighted", "deterministic",
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each doc with
    probability proportional to a quality weight (here length-saturating
    n_chars/400), decided by a uniform hash of the id — the importance-
    sampling step of corpus mixture building, reproducible across engines
    and partitionings (rand() is neither).  13 hex chars = 52 bits, exact
    in a double, so unif and the comparison are bit-identical anywhere.
    Pure map-side projection + filter: zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    unif = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint") / F.lit(float(16 ** 13))
    w = F.least(F.lit(1.0), F.col("n_chars") / 400.0)
    return (
        docs.filter(unif < w)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "customer_halves_full_outer",
    """
WITH h1 AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_h1
  FROM orders WHERE month(o_orderdate) <= 6 GROUP BY o_custkey
),
h2 AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_h2
  FROM orders WHERE month(o_orderdate) > 6 GROUP BY o_custkey
)
SELECT COALESCE(h1.o_custkey, h2.o_custkey) AS o_custkey,
       COALESCE(n_h1, 0) AS n_h1,
       COALESCE(n_h2, 0) AS n_h2,
       (h1.o_custkey IS NOT NULL AND h2.o_custkey IS NOT NULL) AS active_both
FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
ORDER BY o_custkey
""",
    "relational", "full-outer", "join",
)
def customer_halves_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage (the one join type the catalog lacked):
    customers active in each calendar half-year, null-completed on both
    sides.  Both inputs are per-customer aggregates of the same scan, so
    the join is co-partitioned on o_custkey — one shuffle each side, and
    AQE picks the hash strategy."""
    o = _t(spark, sf_dir, "orders")
    m = F.month("o_orderdate")
    h1 = (
        o.filter(m <= 6)
        .groupBy(F.col("o_custkey").alias("_k1"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_h1"))
    )
    h2 = (
        o.filter(m > 6)
        .groupBy(F.col("o_custkey").alias("_k2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_h2"))
    )
    return (
        h1.join(h2, F.col("_k1") == F.col("_k2"), "full_outer")
        .select(
            F.coalesce(F.col("_k1"), F.col("_k2")).alias("o_custkey"),
            F.coalesce("n_h1", F.lit(0)).alias("n_h1"),
            F.coalesce("n_h2", F.lit(0)).alias("n_h2"),
            (F.col("_k1").isNotNull() & F.col("_k2").isNotNull()).alias(
                "active_both"
            ),
        )
        .orderBy("o_custkey")
    )


@register(
    "events_active_users",
    """
WITH lv AS (
  SELECT 'day' AS granularity, CAST(date_trunc('day', ts) AS VARCHAR) AS bucket, user_id FROM events
  UNION ALL
  SELECT 'week', CAST(date_trunc('week', ts) AS VARCHAR), user_id FROM events
  UNION ALL
  SELECT 'month', CAST(date_trunc('month', ts) AS VARCHAR), user_id FROM events
)
SELECT granularity, bucket,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
FROM lv
GROUP BY granularity, bucket
ORDER BY granularity, bucket
""",
    "analytics", "active-users", "distinct",
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU in ONE job: each event fans out to its three
    granularity buckets via an in-row stack (a map-side Expand — the
    oracle's 3-way UNION ALL shape without the three scans), then one
    distinct-count aggregate keyed on (granularity, bucket).  One scan,
    one shuffle carrying (granularity, bucket, user_id) triples.  At
    100 TB swap the exact distinct for approx_count_distinct (the HLL
    sketch twin pattern of events_value_quantiles)."""
    ev = _t(spark, sf_dir, "events")
    # CAST to DATE before STRING: DuckDB's date_trunc('day'/'week'/'month')
    # returns DATE while Spark's returns TIMESTAMP — the date cast makes
    # both engines print "YYYY-MM-DD"
    lv = ev.select(
        F.expr(
            "stack(3,"
            " 'day',   CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING),"
            " 'week',  CAST(CAST(date_trunc('week', ts) AS DATE) AS STRING),"
            " 'month', CAST(CAST(date_trunc('month', ts) AS DATE) AS STRING)"
            ") AS (granularity, bucket)"
        ),
        "user_id",
    )
    return (
        lv.groupBy("granularity", "bucket")
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
        .orderBy("granularity", "bucket")
    )


@register(
    "events_active_users_approx",
    None,  # rows-only: Spark's HLL++ and DuckDB's HLL give different
           # estimates by construction; the error bound vs the exact
           # query is pinned in tests/test_round3.py
    "analytics", "active-users", "approx", "sketch",
    twin_of="events_active_users",
    twin_pin="tests/test_round3.py::test_active_users_approx_error_bound",
)
def events_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB form of events_active_users: same one-scan stack Expand,
    with approx_count_distinct (HyperLogLog++, rsd 2%) instead of the
    exact distinct.  The exact query's shuffle carries every DISTINCT
    (granularity, bucket, user_id) triple — at 10^9 users that is the
    dominant cost and the sketch collapses it to a few KB of HLL state
    per bucket flowing through a plain two-phase aggregate.  Rows-only by
    design; the estimate-vs-exact relative-error bound (well inside 3×
    the 2% rsd) is pinned in pytest."""
    ev = _t(spark, sf_dir, "events")
    lv = ev.select(
        F.expr(
            "stack(3,"
            " 'day',   CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING),"
            " 'week',  CAST(CAST(date_trunc('week', ts) AS DATE) AS STRING),"
            " 'month', CAST(CAST(date_trunc('month', ts) AS DATE) AS STRING)"
            ") AS (granularity, bucket)"
        ),
        "user_id",
    )
    return (
        lv.groupBy("granularity", "bucket")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02)
            .cast("bigint")
            .alias("active_users_est")
        )
        .orderBy("granularity", "bucket")
    )


from ..sources import fixtures
from .catalog import _CLEANED_CTE, _cleaned


@register(
    "complaints_monthly_trend",
    fixtures.complaints_cte(
        """
SELECT month, n,
       LAG(n) OVER (ORDER BY month) AS prev_n,
       FLOOR(CAST(n - LAG(n) OVER (ORDER BY month) AS DOUBLE)
             / LAG(n) OVER (ORDER BY month) * 1000000 + 0.5) / 1000000
         AS mom_change
FROM monthly
ORDER BY month
""",
        {
            "cleaned": _CLEANED_CTE,
            "monthly": """
SELECT CAST(CAST(date_trunc('month', CAST(date_received AS DATE)) AS DATE)
            AS VARCHAR) AS month,
       CAST(COUNT(*) AS BIGINT) AS n
FROM cleaned GROUP BY month
""".strip(),
        },
    ),
    "complaints", "trend", "window",
)
def complaints_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly complaint volume with month-over-month change — the trend
    report a CFPB analyst runs first.  The window runs over the
    MONTH-cardinality aggregate (never the raw complaints); explicit
    half-up rounding keeps the ratio engine-identical."""
    from pyspark.sql import Window

    df = _cleaned(spark, sf_dir)
    monthly = df.groupBy(
        F.date_trunc("month", F.col("date_received").cast("date"))
        .cast("date")
        .cast("string")
        .alias("month")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    prev = F.lag("n").over(Window.orderBy("month"))
    return monthly.select(
        "month",
        "n",
        prev.alias("prev_n"),
        (
            F.floor((F.col("n") - prev).cast("double") / prev * 1_000_000 + 0.5)
            / 1_000_000
        ).alias("mom_change"),
    ).orderBy("month")


@register(
    "docs_weighted_topk_sample",
    """
WITH u AS (
  SELECT doc_id, n_chars,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
          + 1) / POWER(16, 13) AS unif
  FROM documents
),
k AS (
  SELECT doc_id, n_chars,
         ROUND(ln(unif), 6) / CAST(n_chars AS DOUBLE) AS key
  FROM u
)
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT) AS rank
FROM k ORDER BY key DESC, doc_id LIMIT 100
""",
    "sampling", "weighted", "without-replacement", "topk", "deterministic",
)
def docs_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each doc draws key = ln(u)/w from a
    deterministic md5-uniform u and weight w = n_chars; the top-k keys
    are a weighted-without-replacement sample — the one sampler shape
    the family still lacked (Bernoulli gives a random-size sample,
    quota/temperature are per-group).

    Distributed shape: key is a pure map-side expression; the top-k is
    orderBy+limit (TakeOrderedAndProject — per-partition local top-k,
    never a global sort of all keys).  Parity: u is a 52-bit-exact
    uniform; ln rounds at 6 before the division, so both engines rank
    identical doubles; doc_id breaks any residual tie.

    ln-boundary margin (unigram lesson as MEASURED margin): the key
    orders rows but is not emitted, so a hash flip needs a libm
    divergence to cross a 6-decimal rounding boundary AND reorder.
    Measured at the driver's sf0.01 over all 500 ln evaluations: the
    closest value sits 1.0e-3 quanta (1e-9 absolute) from a boundary —
    ≥10^6 above worst-case libm divergence — and the smallest nonzero
    adjacent key gap in the top-100 is 1.3e-8, so identical rounded
    inputs produce identical ranks on any build.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    u = (h + F.lit(1)) / F.lit(float(16**13))
    key = F.round(F.log(u), 6) / F.col("n_chars").cast("double")
    w = Window.orderBy(F.desc("_key"), F.col("doc_id"))
    return (
        docs.select("doc_id", "n_chars", key.alias("_key"))
        .orderBy(F.desc("_key"), "doc_id")
        .limit(100)  # TakeOrderedAndProject; the window ranks only these
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "n_chars", "rank")
    )

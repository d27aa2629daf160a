"""Extended relational surface (SURVEY §2.4-2.6 beyond-parity rows):
window functions / top-k, set operations, cube & rollup, JSON extraction,
event-time windows, sessionization, SQL front end, seeded sampling.

Registered into the same CATALOG as the core queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import sampling, skew, windows as W
from ..sources import fixtures, readers
from ..streaming import windows as SW
from .catalog import _CLEANED_CTE, _cleaned, _t, register


# ---------------------------------------------------------------------------
# Window functions / top-k (W-rows; the reference has only a global orderBy)
# ---------------------------------------------------------------------------


@register(
    "topk_companies_per_state",
    fixtures.complaints_cte(
        """
SELECT state, company, n, rank FROM (
  SELECT state, company, n,
         ROW_NUMBER() OVER (PARTITION BY state ORDER BY n DESC, company) AS rank
  FROM (SELECT state, company, COUNT(*) AS n
        FROM cleaned GROUP BY state, company) g
) r WHERE rank <= 3
""",
        {"cleaned": _CLEANED_CTE},
    ),
    "window", "topk",
)
def topk_companies_per_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window (SURVEY §2.5 extension): top 3
    companies by complaint volume per state, deterministic tiebreak."""
    counts = (
        _cleaned(spark, sf_dir)
        .groupBy("state", "company")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return W.top_k_per_group(
        counts, ["state"], [F.col("n").desc(), F.col("company")], k=3
    ).select("state", "company", "n", F.col("rank").cast("int").alias("rank"))


@register(
    "orders_running_total",
    """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
""",
    "window", "running-agg",
)
def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total — keyed running aggregate (no global
    window; partitions by customer so it scales with the key space)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@register(
    "events_ordinal",
    """
SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) AS ordinal
FROM events WHERE event_type = 'purchase'
""",
    "window", "ordinal",
)
def events_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True row ordinal via row_number (W3) — the principled replacement for
    the reference's RDD zipWithIndex (init.py:29).  A global window is a
    single-task sort, so at scale this is only for small filtered frames;
    the shuffle-free alternative is a non-dense
    monotonically_increasing_id."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select(
        "event_id", F.row_number().over(Window.orderBy("event_id")).alias("ordinal")
    )


# ---------------------------------------------------------------------------
# Set operations (U-rows; intersect/except are the dedup building blocks)
# ---------------------------------------------------------------------------


@register(
    "customers_in_both_statuses",
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
    "setop", "intersect",
)
def customers_in_both_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@register(
    "customers_only_finished",
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
""",
    "setop", "except",
)
def customers_only_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    rest = o.filter(F.col("o_orderstatus") != "F").select("o_custkey")
    return f.subtract(rest)


@register(
    "union_order_sample_frames",
    """
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
""",
    "setop", "union",
)
def union_order_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional union (U1; reference timely_LR.py:96 appends the
    oversampled minority the same way)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return o.filter(F.col("o_orderstatus") == "F").union(
        o.filter(F.col("o_orderstatus") == "P")
    )


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation (cube / rollup — free from Spark, SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "lineitem_cube",
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "agg", "cube",
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "orders_rollup_by_date",
    """
SELECT EXTRACT(YEAR FROM o_orderdate) AS year,
       EXTRACT(MONTH FROM o_orderdate) AS month,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP (EXTRACT(YEAR FROM o_orderdate), EXTRACT(MONTH FROM o_orderdate))
""",
    "agg", "rollup",
)
def orders_rollup_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup(
        F.year("o_orderdate").cast("long").alias("year"),
        F.month("o_orderdate").cast("long").alias("month"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# JSON extraction + event-time windows + sessionization (events table;
# SURVEY §2.7 note + §2.11 extension surface)
# ---------------------------------------------------------------------------


@register(
    "events_props_extract",
    """
SELECT event_id, event_type,
       CAST(props ->> '$.k' AS BIGINT) AS prop_k
FROM events
WHERE event_type IN ('purchase', 'signup')
""",
    "json", "filter",
)
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (`from_json`/`get_json_object` on events.props —
    the natural home for semi-structured columns, SURVEY §2.7)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


@register(
    "events_hourly_agg",
    """
SELECT CAST(date_trunc('hour', ts) AS STRING) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    "window-agg", "streaming-compatible",
)
def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation (streaming-compatible shape: the same
    transformation runs under readStream + watermark)."""
    ev = _t(spark, sf_dir, "events")
    out = SW.tumbling_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        ],
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "events_sessionize",
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
         -- DuckDB window SUM(int) yields HUGEINT; cast so the value hash
         -- matches Spark's BIGINT session_id.
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       CAST(MIN(ts) AS STRING) AS session_start,
       CAST(MAX(ts) AS STRING) AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
""",
    "session", "window", "streaming-compatible",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, 10-minute gap (gaps-and-islands; streaming
    equivalent is F.session_window)."""
    ev = _t(spark, sf_dir, "events")
    stats = SW.session_stats(ev, "ts", ["user_id"], gap_seconds=600)
    return stats.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# SQL front end (SURVEY §3.4: public API = DataFrame combinators + SQL)
# ---------------------------------------------------------------------------

_NATION_REVENUE_SQL = """
SELECT n.n_name AS nation,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""".strip()


@register("sql_nation_revenue", _NATION_REVENUE_SQL, "sql-frontend", "join", "agg")
def sql_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end: spark.sql running literally the same text as the
    oracle, tables bound per call — Catalyst and DuckDB plan the identical
    declarative query."""
    return readers.run_sql(spark, sf_dir, _NATION_REVENUE_SQL)


# ---------------------------------------------------------------------------
# Seeded sampling / rebalancing (U3/U4): rows-only checks — Spark's
# Bernoulli/Poisson samplers are seeded per-partition, so exact row sets are
# engine-specific by design (SURVEY §5, §7 risk (a)).
# ---------------------------------------------------------------------------


@register("complaints_rebalance_8class", None, "sampling", "rows-only")
def complaints_rebalance_8class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass rebalance-to-target (reference
    decision_tree_final_class_8.py:154-194 does 8 scans + 8 unions; ours is
    one sampleBy + one upsample union)."""
    df = _cleaned(spark, sf_dir)
    return sampling.rebalance_to_target(df, "company_response", target=500, seed=42)


@register("complaints_oversample_timely", None, "sampling", "rows-only")
def complaints_oversample_timely(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary minority oversample to parity (reference timely_LR.py:88-96)."""
    df = _cleaned(spark, sf_dir).select("complaint_id", "timely")
    return sampling.oversample_binary(df, "timely", minority_value="No", seed=42)


@register("complaints_train_test_split", None, "sampling", "rows-only")
def complaints_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """70/30 randomSplit seed=42 (reference timely_LR.py:100); returns the
    train side."""
    df = _cleaned(spark, sf_dir).select("complaint_id", "timely")
    train, _test = sampling.train_test_split(df, seed=42)
    return train


@register(
    "events_asof_join",
    """
SELECT l.event_id,
       CAST(l.ts AS STRING) AS ts,
       l.user_id,
       l.value AS click_value,
       CAST(r.ts AS STRING) AS asof_ts,
       r.value AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND r.ts <= l.ts
""",
    "join", "asof", "window",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every click gets the user's most recent
    purchase at-or-before it (operators.windows.asof_join — union + carry-
    forward window, ONE keyed shuffle; the oracle is DuckDB's native ASOF
    JOIN, so two independent formulations must agree)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", F.col("value").alias("click_value")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = W.asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        "user_id",
        "click_value",
        F.col("asof_ts").cast("string").alias("asof_ts"),
        F.col("asof_value").alias("asof_value"),
    )


@register(
    "q5_local_supplier_volume",
    """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                * CAST(1 - l.l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""",
    "join", "agg", "tpch",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table join-order benchmark.  Catalyst broadcast
    picks every dim (region/nation/supplier/customer) so the plan is a
    left-deep broadcast chain over lineitem — no sort-merge, one shuffle
    for the final aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(14,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
    ).cast("double")
    return (
        joined.groupBy("n_name")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# Gate for q18's HAVING-survivor broadcast: ~1.5 M keys at SF 100k under
# the TPC-H qty distribution, a few MB of long keys — comfortably under a
# driver's broadcast budget.  None disables the hint entirely.
Q18_BROADCAST_MAX_ORDERS: int | None = 4_000_000


@register(
    "q18_large_volume_customers",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS STRING) AS o_orderdate,
       o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM big
JOIN orders o   ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
    "join", "agg", "having", "tpch",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-filter (HAVING) feeding a join — the
    semi-join-reduction benchmark.  The HAVING sum(qty) > 300 cut keeps
    ~1e-5 of orders (TPC-H qty distribution), so the `big` key set is a
    few MB even at SF 100k — but that bound is DATA-dependent, so the
    broadcast hint is runtime-gated through ``skew.broadcast_if_bounded``
    (the unified r4 gate, same discipline as q17/canonical_docs) rather
    than asserted: the survivor set is persisted (it is tiny by the
    HAVING contract), counted, and hinted only under
    ``Q18_BROADCAST_MAX_ORDERS``.  The count materializes the cached agg,
    so lineitem is still scanned exactly twice overall (once to find big
    orders — reused from cache by the main job — once to total them);
    over the threshold the frame is left unhinted and AQE picks the join
    strategy from runtime sizes."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = F.sum(F.col("l_quantity").cast("decimal(12,2)"))
    big = (
        l.groupBy("l_orderkey").agg(qty.alias("q")).filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    if Q18_BROADCAST_MAX_ORDERS is not None:
        big = big.persist()
        big = skew.broadcast_if_bounded(
            big, big.count(), Q18_BROADCAST_MAX_ORDERS
        )
    return (
        big
        .join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(l.alias("l2"), F.col("l2.l_orderkey") == o.o_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.col("l2.l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_qty")
        )
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "events_value_quantiles",
    """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6)  AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(quantile_cont(value, 0.99), 6) AS p99,
       COUNT(DISTINCT user_id) AS ndv_users
FROM events
GROUP BY event_type ORDER BY event_type
""",
    "agg", "quantile", "sketch",
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + exact distinct count per key
    (Spark `percentile` == DuckDB `quantile_cont` definition-for-
    definition).  The approximate twins for 100 TB — approx_percentile
    (GK sketch) and approx_count_distinct (HLL) — run in
    tests/test_plans.py with tolerance assertions against these exact
    values; approximations are engine-specific, so they are not
    oracle-hashable."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.countDistinct("user_id").alias("ndv_users"),
        )
        .orderBy("event_type")
    )


@register(
    "events_interval_join",
    """
WITH hrs AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n FROM events GROUP BY 1
),
top AS (SELECT h FROM hrs ORDER BY n DESC, h LIMIT 20),
iv AS (
  SELECT h - INTERVAL 30 MINUTE AS w_start, h + INTERVAL 90 MINUTE AS w_end
  FROM top
)
SELECT CAST(i.w_start AS STRING) AS w_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN iv i ON e.ts >= i.w_start AND e.ts < i.w_end
GROUP BY i.w_start
ORDER BY w_start
""",
    "range-join", "interval", "binned",
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join, binned formulation (operators.windows
    .interval_join): the 20 busiest hours become overlapping 2-hour promo
    windows [peak-30min, peak+90min); every event lands in each window
    covering it.  The oracle runs the naive range-predicate join — the
    binned equi-join + post-filter must agree exactly.  Spark plans the
    naive form as a nested loop; the binned form is a plain hash join."""
    ev = _t(spark, sf_dir, "events")
    hrs = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    top = hrs.orderBy(F.col("n").desc(), "h").limit(20)
    iv = top.select(
        (F.col("h") - F.expr("INTERVAL 30 MINUTE")).alias("w_start"),
        (F.col("h") + F.expr("INTERVAL 90 MINUTE")).alias("w_end"),
    )
    joined = W.interval_join(ev, iv, "ts", bucket="1 hour")
    return (
        joined.groupBy("w_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w_start").cast("string").alias("w_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("w_start")
    )


@register(
    "events_multires_rollup",
    """
WITH m AS (
  SELECT date_trunc('minute', ts) AS b, event_type,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events GROUP BY 1, 2
)
SELECT 'minute' AS level, CAST(b AS STRING) AS bucket_start, event_type,
       n AS n_events, CAST(s AS DOUBLE) AS sum_value
FROM m
UNION ALL
SELECT 'hour', CAST(date_trunc('hour', b) AS STRING), event_type,
       CAST(SUM(n) AS BIGINT), CAST(SUM(s) AS DOUBLE)
FROM m GROUP BY date_trunc('hour', b), event_type
UNION ALL
-- DuckDB date_trunc('day', ts) yields DATE (minute/hour yield TIMESTAMP);
-- cast back to TIMESTAMP so the rendered string matches Spark's
SELECT 'day', CAST(CAST(date_trunc('day', b) AS TIMESTAMP) AS STRING), event_type,
       CAST(SUM(n) AS BIGINT), CAST(SUM(s) AS DOUBLE)
FROM m GROUP BY date_trunc('day', b), event_type
ORDER BY level, bucket_start, event_type
""",
    "rollup", "multires", "continuous-aggregate",
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (operators.windows
    .multires_rollup): minute partials from raw rows, hour FROM minute,
    day FROM hour — the input is scanned once; coarser levels re-aggregate
    the persisted finer partials (count-sum merge, exact under the decimal
    fold)."""
    ev = _t(spark, sf_dir, "events")
    return W.multires_rollup(
        ev, "ts", ["event_type"], "value", levels=("minute", "hour", "day")
    ).orderBy("level", "bucket_start", "event_type")


def _cms_oracle() -> str:
    from ..operators.sketches import CMS_SALTS, P

    vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(CMS_SALTS))
    return f"""
WITH salts(i, a, b) AS (VALUES {vals}),
cells AS (
  SELECT s.i, ((s.a * e.user_id + s.b) % {P}) % 256 AS bucket
  FROM events e CROSS JOIN salts s
),
sketch AS (SELECT i, bucket, COUNT(*) AS cnt FROM cells GROUP BY i, bucket),
cand AS (SELECT DISTINCT user_id FROM events),
probe AS (
  SELECT c.user_id, s.i, ((s.a * c.user_id + s.b) % {P}) % 256 AS bucket
  FROM cand c CROSS JOIN salts s
),
est AS (
  SELECT user_id, MIN(cnt) AS est_count
  FROM probe JOIN sketch USING (i, bucket) GROUP BY user_id
)
SELECT user_id, CAST(est_count AS BIGINT) AS est_count
FROM est ORDER BY est_count DESC, user_id LIMIT 20
"""


@register(
    "events_heavy_hitters_cms",
    _cms_oracle(),
    "sketch", "count-min", "heavy-hitters",
)
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a Count-Min sketch (operators.sketches): the
    sketch is 4×256 counter cells however large the input — partials
    collapse map-side, the reduce moves KBs — then every candidate key is
    point-queried (broadcast sketch) and the top 20 by one-sided estimate
    reported.  The oracle computes the identical sketch arithmetic in SQL;
    est ≥ exact count is pinned in pytest."""
    from ..operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    sketch = SK.cms_build(ev, "user_id", w=256)
    cand = ev.select("user_id").distinct()
    est = SK.cms_estimate(sketch, cand, "user_id", w=256)
    return est.orderBy(F.col("est_count").desc(), "user_id").limit(20)

"""The query catalog: every operator surfaced as a named, oracle-checked query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with the
equivalent ANSI SQL that DuckDB runs on the same parquet tables.  This is the
engine's correctness gate (SURVEY §5): the driver executes both sides at
sf=0.01 and compares row-count + schema + order-insensitive value hash.

Numeric-parity conventions (so a value hash can match across two engines):
- exact-sum aggregates go through DECIMAL (both engines sum decimals
  exactly; the final CAST to DOUBLE of the same exact value is identical);
- averages are written as exact-decimal-sum / count, then ROUND(..., 6);
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sources import fixtures, readers
from ..operators import cleaning, encode, metrics as M

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: SparkQuery
    oracle: str | None  # None => not SQL-expressible; driver does rows-only
    tags: tuple[str, ...] = field(default_factory=tuple)
    # fast/approx/prebuilt production twins link to their exact anchor entry
    # plus the pytest that pins the pair's equality/deviation bound, so the
    # twin relationship is machine-readable (QUERIES.md `twin of` column)
    # instead of living only in docstrings.
    twin_of: str | None = None
    twin_pin: str | None = None


CATALOG: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    *tags: str,
    twin_of: str | None = None,
    twin_pin: str | None = None,
):
    def deco(fn: SparkQuery) -> SparkQuery:
        CATALOG[name] = QuerySpec(
            fn=fn, oracle=oracle, tags=tags, twin_of=twin_of, twin_pin=twin_pin
        )
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, name)


def _inputs(sf_dir: str, *names: str) -> list[str]:
    """The paths of test tables ``names``: a memo's ``inputs`` over them."""
    return [readers.table_path(sf_dir, n) for n in names]


# ---------------------------------------------------------------------------
# Relational kernel on the star schema (SURVEY §2.1-2.5): scan → filter →
# project → agg → sort, joins, top-k.  TPC-H-shaped so plans are comparable
# to well-known physical strategies.
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "2000-12-01 00:00:00"


@register(
    "q1_pricing_summary",
    f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2))
                      * CAST(1 - l_discount AS DECIMAL(8,4)) AS DECIMAL(18,6))
                 * CAST(1 + l_tax AS DECIMAL(8,4))), 4) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        / COUNT(*), 6)                                        AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
        / COUNT(*), 6)                                        AS avg_price,
  COUNT(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    "scan", "filter", "agg", "sort",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter → hash agg (partial+final) → small sort.

    Exercises S1/P6/A1/W1 from SURVEY §2.  The filter and the 7-column
    projection push down to the parquet scan; the aggregate is 6 groups, so
    the final shuffle is trivial regardless of input scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc1 = F.expr("CAST(1 - l_discount AS DECIMAL(8,4))")
    tax1 = F.expr("CAST(1 + l_tax AS DECIMAL(8,4))")
    return (
        li.filter(F.col("l_shipdate") <= F.expr(f"TIMESTAMP '{_Q1_CUTOFF}'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc1).cast("double").alias("sum_disc_price"),
            # Round the scale-10 decimal before the double cast: DuckDB's
            # decimal→double is not correctly rounded once the unscaled
            # mantissa exceeds 2^53, Spark's is.  At scale 4 the conversion
            # is exact in both engines.
            F.round(F.sum((price * disc1).cast("decimal(18,6)") * tax1), 4)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_unshipped_orders",
    """
SELECT
  l.l_orderkey                                   AS l_orderkey,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
           * CAST(1 - l.l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
  CAST(CAST(o.o_orderdate AS DATE) AS STRING)    AS o_orderdate,
  o.o_orderpriority                              AS o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "join", "agg", "topk",
)
def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-k.

    The customer side is filtered then broadcast (small, selective
    BUILDING-segment dim).  Orders is only date-filtered — at TPC-H date
    ranges that keeps ~95% of the fact table, so it carries NO broadcast
    hint: lineitem⋈orders is a plain keyed shuffle join and AQE is free to
    re-plan it at runtime.  Revenue is exact-decimal so the top-10 cut is
    deterministic; ties broken by orderkey.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1998-01-01 00:00:00'")
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * F.expr(
        "CAST(1 - l_discount AS DECIMAL(8,4))"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q6_forecast_revenue",
    """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
           * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    "scan", "filter", "agg",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+global agg — the pushdown benchmark.

    All four predicates reach the parquet reader (PushedFilters); only two
    columns are read beyond the filter columns.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(14,2)")
            * F.col("l_discount").cast("decimal(8,4)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Reference-parity queries over the complaints fixture (SURVEY §2.10).
# ---------------------------------------------------------------------------

_CLEAN_COLS = list(schemas.COMPLAINT_COLUMNS)

# SQL mirror of operators.cleaning.clean_complaints over the fixture.
_CLEANED_CTE = """
SELECT
  complaint_id, company, product,
  CASE WHEN sub_product = '' THEN 'Not Available' ELSE sub_product END AS sub_product,
  issue,
  CASE WHEN sub_issue = '' THEN 'Not Available' ELSE sub_issue END AS sub_issue,
  complaint_what_happened, company_response, timely, state, zip_code,
  date_received, date_sent_to_company, submitted_via,
  company_public_response, consumer_consent_provided, consumer_disputed, tags
FROM complaints
WHERE _corrupt_record IS NULL
  AND NOT(company IS NULL OR trim(company) = '')
  AND NOT(product IS NULL OR trim(product) = '')
  AND NOT(issue IS NULL OR trim(issue) = '')
  AND NOT(company_response IS NULL OR trim(company_response) = '')
  AND NOT(timely IS NULL OR trim(timely) = '')
""".strip()


def _cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = fixtures.complaints(spark, sf_dir)
    return cleaning.clean_complaints(df).select(*_CLEAN_COLS)


@register(
    "complaints_clean",
    fixtures.complaints_cte("SELECT * FROM cleaned", {"cleaned": _CLEANED_CTE}),
    "complaints", "filter", "recode",
)
def complaints_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite clean_complaints (reference init.py:13-33): corrupt-drop →
    blank→'Not Available' recode → required-column non-blank filter."""
    return _cleaned(spark, sf_dir)


@register(
    "complaints_frequency_encode",
    fixtures.complaints_cte(
        """
SELECT c.complaint_id, c.company, c.issue,
       f1.frequency_company, f2.frequency_issue
FROM cleaned c
LEFT JOIN (SELECT company, COUNT(*) AS frequency_company
           FROM cleaned GROUP BY company) f1 ON c.company = f1.company
LEFT JOIN (SELECT issue, COUNT(*) AS frequency_issue
           FROM cleaned GROUP BY issue) f2 ON c.issue = f2.issue
""",
        {"cleaned": _CLEANED_CTE},
    ),
    "complaints", "join", "agg", "encode",
)
def complaints_frequency_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite frequency_encode on company and issue (reference
    decision_tree_final_class_8.py:75-84): count-dim + broadcast join-back."""
    df = _cleaned(spark, sf_dir)
    df = encode.frequency_encode(df, "company")
    df = encode.frequency_encode(df, "issue")
    return df.select(
        "complaint_id", "company", "issue", "frequency_company", "frequency_issue"
    )


@register(
    "complaints_date_parts",
    fixtures.complaints_cte(
        """
SELECT complaint_id,
       date_received,
       EXTRACT(YEAR FROM CAST(date_received AS DATE))  AS year,
       EXTRACT(MONTH FROM CAST(date_received AS DATE)) AS month,
       EXTRACT(DAY FROM CAST(date_received AS DATE))   AS day
FROM cleaned
""",
        {"cleaned": _CLEANED_CTE},
    ),
    "complaints", "cast", "datetime",
)
def complaints_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite date_parts (reference timely_LR.py:57-62): string →
    timestamp → year/month/day."""
    df = encode.date_parts(_cleaned(spark, sf_dir), "date_received")
    return df.select(
        "complaint_id",
        "date_received",
        F.col("year").cast("long"),
        F.col("month").cast("long"),
        F.col("day").cast("long"),
    )


@register(
    "complaints_class_distribution",
    fixtures.complaints_cte(
        """
SELECT company_response, COUNT(*) AS n
FROM cleaned
GROUP BY company_response
ORDER BY company_response
""",
        {"cleaned": _CLEANED_CTE},
    ),
    "complaints", "agg", "sort",
)
def complaints_class_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-distribution report (A2; reference
    decision_tree_final_class_8.py:198): one groupBy instead of the
    reference's 8 separate count() jobs."""
    return (
        _cleaned(spark, sf_dir)
        .groupBy("company_response")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("company_response")
    )


@register(
    "complaints_flagship",
    fixtures.complaints_cte(
        """
SELECT
  c.company_response,
  EXTRACT(YEAR FROM CAST(c.date_received AS DATE)) AS year,
  COUNT(*) AS n_complaints,
  ROUND(AVG(f1.frequency_company), 6) AS avg_company_freq,
  CAST(SUM(CASE WHEN c.timely = 'Yes' THEN 1 ELSE 0 END) AS BIGINT) AS n_timely
FROM cleaned c
LEFT JOIN (SELECT company, COUNT(*) AS frequency_company
           FROM cleaned GROUP BY company) f1 ON c.company = f1.company
GROUP BY c.company_response, EXTRACT(YEAR FROM CAST(c.date_received AS DATE))
ORDER BY c.company_response, year
""",
        {"cleaned": _CLEANED_CTE},
    ),
    "complaints", "flagship", "join", "agg", "sort",
)
def complaints_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end slice (SURVEY §7.1): clean → frequency_encode →
    date_parts → grouped report with sort.

    Exercises scan/filter/recode/join/agg/sort in one plan.  The frequency
    dim is broadcast; the only wide exchange is the final small group-by.
    """
    df = _cleaned(spark, sf_dir)
    df = encode.frequency_encode(df, "company")
    df = encode.date_parts(df, "date_received")
    return (
        df.groupBy("company_response", F.col("year").cast("long").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_complaints"),
            F.round(F.avg("frequency_company"), 6).alias("avg_company_freq"),
            F.sum(F.when(F.col("timely") == "Yes", 1).otherwise(0)).alias("n_timely"),
        )
        .orderBy("company_response", "year")
    )


# Deterministic pseudo-predictions: a stand-in "model output" expressible in
# SQL, so the metric operators (SURVEY §2.10 binary_metrics /
# confusion_matrix) get a value-level oracle instead of rows-only.
_PRED_CTE = """
SELECT
  CASE WHEN timely = 'Yes' THEN 1.0 ELSE 0.0 END AS label,
  CASE WHEN CAST(complaint_id AS BIGINT) % 3 < 2 THEN 1.0 ELSE 0.0 END AS prediction,
  company_response,
  CASE WHEN CAST(complaint_id AS BIGINT) % 4 = 0
       THEN 'Closed with explanation' ELSE company_response END AS response_pred
FROM cleaned
""".strip()


def _preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cleaned(spark, sf_dir)
    cid = F.col("complaint_id").cast("bigint")
    return df.select(
        F.when(F.col("timely") == "Yes", 1.0).otherwise(0.0).alias("label"),
        F.when(cid % 3 < 2, 1.0).otherwise(0.0).alias("prediction"),
        F.col("company_response"),
        F.when(cid % 4 == 0, F.lit("Closed with explanation"))
        .otherwise(F.col("company_response"))
        .alias("response_pred"),
    )


@register(
    "complaints_binary_metrics",
    fixtures.complaints_cte(
        """
SELECT 'tp' AS metric, tp AS value FROM w
UNION ALL SELECT 'fp', fp FROM w
UNION ALL SELECT 'tn', tn FROM w
UNION ALL SELECT 'fn', fn FROM w
UNION ALL SELECT 'precision', tp / NULLIF(tp + fp, 0) FROM w
UNION ALL SELECT 'recall', tp / NULLIF(tp + fn, 0) FROM w
UNION ALL SELECT 'accuracy', (tp + tn) / NULLIF(tp + fp + tn + fn, 0) FROM w
UNION ALL SELECT 'f1',
  2 * (tp / NULLIF(tp + fp, 0)) * (tp / NULLIF(tp + fn, 0))
    / NULLIF((tp / NULLIF(tp + fp, 0)) + (tp / NULLIF(tp + fn, 0)), 0) FROM w
""",
        {
            "cleaned": _CLEANED_CTE,
            "preds": _PRED_CTE,
            "w": """
SELECT
  CAST(SUM(CASE WHEN prediction = 1.0 AND label = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
  CAST(SUM(CASE WHEN prediction = 1.0 AND label <> 1.0 THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
  CAST(SUM(CASE WHEN prediction <> 1.0 AND label <> 1.0 THEN 1 ELSE 0 END) AS DOUBLE) AS tn,
  CAST(SUM(CASE WHEN prediction <> 1.0 AND label = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) AS fn
FROM preds
""".strip(),
        },
    ),
    "complaints", "metrics",
)
def complaints_binary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary_metrics (reference timely_LR.py:157-173) on deterministic
    pseudo-predictions: one conditional-agg job replaces four count() scans."""
    return M.binary_metrics(_preds(spark, sf_dir))


@register(
    "complaints_confusion_counts",
    fixtures.complaints_cte(
        """
SELECT company_response AS label, response_pred AS prediction, COUNT(*) AS n
FROM preds
GROUP BY company_response, response_pred
""",
        {"cleaned": _CLEANED_CTE, "preds": _PRED_CTE},
    ),
    "complaints", "metrics", "agg",
)
def complaints_confusion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native confusion matrix (M19 replacement; reference
    decision_tree_final_class_8.py:318-336 uses an RDD hop + global sort —
    ours is one hash aggregation that never leaves the JVM)."""
    return M.confusion_counts(_preds(spark, sf_dir), "company_response", "response_pred")


@register(
    "complaints_per_class_metrics",
    fixtures.complaints_cte(
        """
SELECT
  r.label,
  CAST(COALESCE(d.tp, 0) AS DOUBLE) AS tp,
  CAST(r.n_label AS DOUBLE) AS n_label,
  CAST(COALESCE(d.tp, 0) AS DOUBLE) / NULLIF(CAST(p.n_pred AS DOUBLE), 0) AS precision,
  CAST(COALESCE(d.tp, 0) AS DOUBLE) / NULLIF(CAST(r.n_label AS DOUBLE), 0) AS recall
FROM (SELECT company_response AS label, COUNT(*) AS n_label
      FROM preds GROUP BY company_response) r
LEFT JOIN (SELECT company_response AS label, COUNT(*) AS tp
           FROM preds WHERE company_response = response_pred
           GROUP BY company_response) d ON r.label = d.label
LEFT JOIN (SELECT response_pred AS label, COUNT(*) AS n_pred
           FROM preds GROUP BY response_pred) p ON r.label = p.label
ORDER BY r.label
""",
        {"cleaned": _CLEANED_CTE, "preds": _PRED_CTE},
    ),
    "complaints", "metrics", "join",
)
def complaints_per_class_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall, distributed (replaces driver-side NumPy
    row/col sums at reference decision_tree_final_class_8.py:341-349)."""
    return M.per_class_metrics(_preds(spark, sf_dir), "company_response", "response_pred")


# The 8 company_response classes (sources/fixtures.py) with stable slug
# aliases for the wide pivot — pinned statically so the pivot never runs the
# extra distinct-values job and both engines emit identical column names.
_RESPONSE_CLASSES = [
    ("Closed", "closed"),
    ("Closed with explanation", "explanation"),
    ("Closed with monetary relief", "monetary"),
    ("Closed with non-monetary relief", "non_monetary"),
    ("Closed with relief", "relief"),
    ("Closed without relief", "without_relief"),
    ("In progress", "in_progress"),
    ("Untimely response", "untimely"),
]


@register(
    "complaints_confusion_pivot",
    fixtures.complaints_cte(
        "SELECT company_response AS label,\n"
        + ",\n".join(
            f"  CAST(SUM(CASE WHEN response_pred = '{v}' THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS {s}"
            for v, s in _RESPONSE_CLASSES
        )
        + "\nFROM preds GROUP BY company_response ORDER BY company_response",
        {"cleaned": _CLEANED_CTE, "preds": _PRED_CTE},
    ),
    "complaints", "metrics", "pivot",
)
def complaints_confusion_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide 8×8 confusion matrix via pivot — the COMPUTED replacement for
    the reference's hand-transcribed matrices
    (desicion_tree_confusion_matrix.py:16-31).  The pivot value list is
    static, so Spark skips the distinct-values pre-job (one aggregation
    total, load-bearing when the matrix feeds a plot at 100 TB)."""
    cm = M.confusion_counts(_preds(spark, sf_dir), "company_response", "response_pred")
    wide = (
        cm.groupBy("label")
        .pivot("prediction", [v for v, _ in _RESPONSE_CLASSES])
        .sum("n")
        .na.fill(0)
    )
    renamed = wide.select(
        "label", *[F.col(f"`{v}`").alias(s) for v, s in _RESPONSE_CLASSES]
    )
    return renamed.orderBy("label")

"""Source/sink/skew catalog queries — the operators that previously had only
unit tests, promoted to oracle-checked entries (VERDICT r1 items 5-7):

- ``complaints_json_clean``: S1's literal form — PERMISSIVE JSON scan with
  ``_corrupt_record`` capture (reference init.py:13-27), oracle-checked
  against the parquet path's cleaned output;
- ``sink_roundtrip_orders``: S3 — partitioned parquet sink, read back and
  aggregated, oracle = the same aggregate straight off the source table
  (proves the sink round-trips values exactly);
- ``salted_orders_agg``: the skew fallback — two-stage salted aggregation
  must be result-identical to the plain GROUP BY oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..operators import cleaning, skew
from ..sources import fixtures, readers, sinks
from ..streaming import jobs as SJ
from .catalog import _CLEAN_COLS, _CLEANED_CTE, _t, register


# A deliberately malformed NDJSON line: PERMISSIVE parsing lands the raw
# text in _corrupt_record, reproducing the reference's bad-row semantics.
_BROKEN_LINE = '{"complaint_id": BROKEN'


def _render_complaints_json(spark: SparkSession, sf_dir: str) -> str:
    """Render the complaints fixture as NDJSON into the entry's registry
    work dir, once per (sf_dir, process); ``streaming.jobs.reset`` drops
    it for a fresh render.

    Rows the fixture marks corrupt are written as genuinely malformed JSON
    (not a data field named _corrupt_record — that name is reserved for the
    reader's own capture column), so the read path exercises real PERMISSIVE
    corrupt-record handling.  One distributed pass: to_json over a struct of
    the data columns.
    """

    def build(work: str) -> None:
        line = F.when(
            F.col(schemas.CORRUPT_COL).isNotNull(), F.lit(_BROKEN_LINE)
        ).otherwise(
            F.to_json(F.struct(*[F.col(c) for c in schemas.COMPLAINT_COLUMNS]))
        )
        fixtures.complaints(spark, sf_dir).select(line.alias("value")).write.text(
            f"{work}/json"
        )

    return f"{SJ.workdir('complaints_json_clean', sf_dir, build)}/json"


@register(
    "complaints_json_clean",
    fixtures.complaints_cte("SELECT * FROM cleaned", {"cleaned": _CLEANED_CTE}),
    "source", "json", "corrupt-record",
)
def complaints_json_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 literal form: schema-pinned PERMISSIVE NDJSON scan (reference
    init.py:13 ``spark.read.json`` + init.py:27 corrupt-record drop) →
    clean_complaints.  The oracle is the SAME SQL as ``complaints_clean`` —
    the JSON path must produce byte-identical cleaned output to the parquet
    path, malformed lines playing the role of the fixture's corrupt rows."""
    path = _render_complaints_json(spark, sf_dir)
    raw = readers.read_complaints_json(spark, path)
    return cleaning.clean_complaints(raw).select(*_CLEAN_COLS)


@register(
    "sink_roundtrip_orders",
    """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    "sink", "parquet", "partitioned",
)
def sink_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 round-trip: write orders as parquet partitioned by o_orderstatus
    (low-cardinality → partition pruning serves the dominant filter), read
    it back, aggregate.  Oracle aggregates the source table directly — any
    value corruption in the sink/scan cycle breaks the hash."""
    orders = _t(spark, sf_dir, "orders")
    out = f"{SJ.workdir('sink_roundtrip_orders', sf_dir)}/orders"
    sinks.write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "salted_lineitem_agg",
    """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    "skew", "salted-agg",
)
def salted_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew fallback correctness: two-stage salted aggregation (partial by
    (key, salt) → merge by key) must equal the plain GROUP BY — proven here
    against the unsalted oracle.  l_returnflag is 3-valued, i.e. maximally
    hot keys: exactly the shape where a single-stage agg funnels 1/3 of the
    table through one reducer."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(12,2)")
    )
    out = skew.salted_agg(
        li,
        ["l_returnflag"],
        {
            "n_items": ("count", None),
            "sum_qty_dec": ("sum", "qty_dec"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        "n_items",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "min_price",
        "max_price",
    ).orderBy("l_returnflag")


@register(
    "csv_roundtrip_customer",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
       MIN(c_name) AS first_name,
       MAX(c_name) AS last_name
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    "source", "sink", "csv",
)
def csv_roundtrip_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S3 CSV interchange round-trip: write customer as headered CSV
    (sinks.write_csv), read it back with an EXPLICIT schema
    (readers.read_csv — no inference pass), aggregate.  The oracle
    aggregates the source table directly, so any value corruption across
    the text hop (double shortest-repr round-trip, quoting of embedded
    delimiters) breaks the hash."""
    cust = _t(spark, sf_dir, "customer")
    out = f"{SJ.workdir('csv_roundtrip_customer', sf_dir)}/customer"
    sinks.write_csv(cust, out)
    back = readers.read_csv(spark, out, cust.schema)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_balance"),
            F.min("c_name").alias("first_name"),
            F.max("c_name").alias("last_name"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "orc_roundtrip_part",
    """
SELECT p_brand,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_retail,
       CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size,
       MIN(p_name) AS first_name
FROM part
WHERE p_type = 'PROMO'
GROUP BY p_brand
ORDER BY p_brand
""",
    "source", "sink", "orc", "partitioned",
)
def orc_roundtrip_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S3 ORC interchange round-trip: write part as zstd ORC
    partitioned by p_type (sinks.write_orc), read it back
    (readers.read_orc — schema from the footer, no inference), then
    filter one partition and aggregate.  The p_type filter resolves at
    the DIRECTORY level on the read-back side (Hive-style partition
    pruning: only PROMO stripes are opened), so the query also proves the
    partitioned-layout path, not just value fidelity.  The oracle
    aggregates the source parquet directly — any corruption across the
    format hop (or a partition column dropped/retyped by the round-trip)
    breaks the hash."""
    p = _t(spark, sf_dir, "part")
    out = f"{SJ.workdir('orc_roundtrip_part', sf_dir)}/part"
    sinks.write_orc(p, out, partition_by=("p_type",))
    back = readers.read_orc(spark, out)
    return (
        back.filter(F.col("p_type") == "PROMO")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_retail"),
            F.sum(F.col("p_size").cast("bigint")).cast("bigint").alias("total_size"),
            F.min("p_name").alias("first_name"),
        )
        .orderBy("p_brand")
    )

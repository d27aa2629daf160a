"""Explicit schemas.

The reference relies on JSON schema inference everywhere (reference
init.py:13, timely_LR.py:31 — ``spark.read.json`` with no schema) and keeps
the resulting ``_corrupt_record`` column.  Inference costs a full extra pass
over 100 TB and can drift between files, so the engine pins every schema.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# The CFPB complaints table (reference SURVEY §1.1; column list from
# reference timely_SVM.py:57).  All-nullable strings by design: that is what
# spark.read.json infers for this corpus, and the cleaning operators own the
# recode/cast steps.
# ---------------------------------------------------------------------------
COMPLAINT_COLUMNS = [
    "complaint_id",
    "company",
    "product",
    "sub_product",
    "issue",
    "sub_issue",
    "complaint_what_happened",
    "company_response",
    "timely",
    "state",
    "zip_code",
    "date_received",
    "date_sent_to_company",
    "submitted_via",
    "company_public_response",
    "consumer_consent_provided",
    "consumer_disputed",
    "tags",
]

CORRUPT_COL = "_corrupt_record"

COMPLAINTS_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in COMPLAINT_COLUMNS]
    + [T.StructField(CORRUPT_COL, T.StringType(), True)]
)

# ---------------------------------------------------------------------------
# Driver-generated synthetic test tables (TESTDATA.md / FIXTURES.md §A).
# ---------------------------------------------------------------------------
REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART_SCHEMA = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

# Early events vintages store ts as TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects ([PARQUET_TYPE_ILLEGAL]).  The engine reads that vintage as
# raw int64 nanoseconds and reconstructs a TIMESTAMP_NTZ (see
# readers.load_table) — pure epoch arithmetic, deterministic under any session
# timezone.  Current vintages store TIMESTAMP(MICROS) and read as EVENTS_SCHEMA.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

# Every test table, in TESTDATA.md order.  readers.load_table reads each one
# through its schema here (no footer-inference Spark job) and refuses a name
# without an entry.
TABLE_SCHEMAS = {
    "region": REGION_SCHEMA,
    "nation": NATION_SCHEMA,
    "customer": CUSTOMER_SCHEMA,
    "supplier": SUPPLIER_SCHEMA,
    "part": PART_SCHEMA,
    "orders": ORDERS_SCHEMA,
    "lineitem": LINEITEM_SCHEMA,
    "events": EVENTS_SCHEMA,
    "documents": DOCUMENTS_SCHEMA,
    "embeddings": EMBEDDINGS_SCHEMA,
}
TESTDATA_TABLES = list(TABLE_SCHEMAS)

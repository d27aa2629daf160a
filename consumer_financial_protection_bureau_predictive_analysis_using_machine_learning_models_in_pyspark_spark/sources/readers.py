"""Sources (SURVEY §2.1, S1/S2).

The reference's only source is inferred-schema NDJSON (reference init.py:13,
timely_LR.py:31).  The engine reads Parquet as the canonical columnar store
(vectorized reader, row-group pruning, pushed filters) and keeps a
schema-pinned PERMISSIVE JSON reader for reference parity.

Every test table is read through its pinned schema
(``schemas.TABLE_SCHEMAS``), never an inferred one: ``spark.read.parquet``
with no schema runs one footer-inference Spark job per call, so a report
that reads four tables would pay four jobs before its query starts.  A new
table needs an entry in ``schemas.py``; ``load_table`` refuses names it has
no schema for.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import schemas


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic parquet test table (TESTDATA.md) through its
    pinned schema, ``schemas.TABLE_SCHEMAS[name]``: building the frame runs
    no Spark job.  ``events`` first sniffs its parquet footer with pyarrow
    (no Spark job either) and reads the TIMESTAMP(NANOS) vintage as raw
    int64 ``ts`` converted to TIMESTAMP_NTZ.  A name without a pinned schema
    raises ``ValueError``; add the table to ``schemas.py`` first.
    """
    if name not in schemas.TABLE_SCHEMAS:
        raise ValueError(
            f"no pinned schema for table {name!r}; add it to schemas.TABLE_SCHEMAS"
        )
    path = table_path(sf_dir, name)
    if name == "events":
        schema, ts = events_encoding(path)
        raw = spark.read.schema(schema).parquet(path)
        return raw if ts is None else raw.withColumn("ts", ts)
    return spark.read.schema(schemas.TABLE_SCHEMAS[name]).parquet(path)


def table_path(sf_dir: str, name: str) -> str:
    """Where test table ``name`` lives under ``sf_dir`` (a parquet file or
    dir): what ``load_table`` reads and what a memo over it fingerprints."""
    return os.path.join(sf_dir, f"{name}.parquet")


def events_encoding(path: str) -> tuple[StructType, Column | None]:
    """How to read the events parquet file at ``path``: the schema to read
    it with, and the expression that rebuilds ``ts`` as TIMESTAMP_NTZ
    (``None`` when the file's ``ts`` already is one).  The one owner of the
    events encoding, shared by batch loads and the events stream; the
    footer sniff runs no Spark job."""
    if _events_ts_is_nanos(path):
        return schemas.EVENTS_RAW_SCHEMA, F.expr(_NS_TO_NTZ)
    return schemas.TABLE_SCHEMAS["events"], None


# TIMESTAMP_NTZ epoch reconstruction from int64 nanoseconds, truncating to
# microseconds exactly like DuckDB/Arrow do.  Split into whole seconds +
# microsecond remainder so every double stays exactly representable.
_NS_TO_NTZ = (
    "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    " + make_dt_interval(0, 0, 0, CAST(ts DIV 1000000000 AS DOUBLE))"
    " + make_dt_interval(0, 0, 0, CAST((ts % 1000000000) DIV 1000 AS DOUBLE) / 1000000.0)"
)


def _events_ts_is_nanos(path: str) -> bool:
    """Sniff the parquet footer (metadata-only read) for the ts encoding.

    Early driver datasets wrote ts as TIMESTAMP(NANOS) — which Spark's
    reader rejects outright ([PARQUET_TYPE_ILLEGAL]) — while current ones
    write plain TIMESTAMP(MICROS).  Detecting from the footer keeps one
    loader working against both vintages with no session conf.  Read on
    every call: a file rewritten at the same path is never misread.
    """
    import pyarrow.parquet as pq

    return str(pq.read_schema(path).field("ts").type) in ("int64", "timestamp[ns]")


_TABLE_REF = re.compile(
    r"\b(FROM|JOIN)\s+(" + "|".join(schemas.TESTDATA_TABLES) + r")\b"
)


def run_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run ``text`` — SQL over the plain test-table names, the same string
    the DuckDB oracle runs — with every table it reads bound for this call
    only (``spark.sql`` DataFrame arguments).  No session temp view is
    created or overwritten, so concurrent callers cannot see each other's
    tables and a caller's own ``orders`` view survives."""
    names = dict.fromkeys(t for _, t in _TABLE_REF.findall(text))
    return spark.sql(
        _TABLE_REF.sub(r"\1 {\2}", text),
        **{t: load_table(spark, sf_dir, t) for t in names},
    )


def read_complaints_json(spark: SparkSession, path: str) -> DataFrame:
    """Reference-parity complaints reader (S1).

    The reference uses ``spark.read.json(path)`` with schema inference and
    keeps ``_corrupt_record`` (reference init.py:13, timely_LR.py:31,
    decision_tree_final_class_8.py:47).  Inference is a full extra data pass,
    so the engine pins the schema and keeps PERMISSIVE corrupt-record capture
    for the same bad-row semantics.
    """
    return (
        spark.read.schema(schemas.COMPLAINTS_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", schemas.CORRUPT_COL)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str):
    """ORC scan.  Schema rides in the file footer (no inference pass);
    predicate pushdown and column pruning reach the stripe level exactly
    as with Parquet, so plans over ORC inputs keep the same PushedFilters
    / ReadSchema shape (proven by the orc_roundtrip_part oracle)."""
    return spark.read.orc(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    mode: str = "PERMISSIVE",
):
    """CSV scan with an EXPLICIT schema (inference costs an extra full
    pass and can mis-type sparse columns — same discipline as the JSON
    reader) and PERMISSIVE malformed-row handling."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
        .csv(path)
    )

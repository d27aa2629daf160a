"""The complaints-shaped fixture (FIXTURES.md §B).

The reference operates on the CFPB complaints table (reference SURVEY §1.1;
column list at reference timely_SVM.py:57).  That corpus is not present in
this environment, so the engine derives a deterministic complaints-shaped
table from the driver-generated star schema (orders ⋈ customer ⋈ nation ⋈
documents).  The derivation is written once, in an ANSI-SQL dialect common to
Spark SQL and DuckDB, and executed verbatim in both engines — so every
downstream operator keeps a byte-identical oracle.

Shape goals (mirroring the real corpus):
- ``company`` is a skewed high-cardinality categorical (customer names);
- ``timely`` is an imbalanced Yes/No string with blanks;
- ``company_response`` is an 8-class skewed label;
- ``sub_product``/``sub_issue`` contain blanks (exercises the
  blank→'Not Available' recode, reference init.py:32-33);
- ``complaint_what_happened`` is free text with 'XXXX' redaction runs
  (exercises the redaction-stripping path, reference
  complaints_narrative_LDA.py:44-53);
- ``_corrupt_record`` is non-null for a small fixed slice (exercises the
  corrupt-record drop, reference init.py:27).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators import cache as CACHE
from . import readers

# Executed verbatim by Spark SQL and DuckDB.  Keep to the common dialect:
# CAST(.. AS STRING), ||, %, CASE WHEN, CROSS/LEFT JOIN.
COMPLAINTS_FIXTURE_SQL = """
SELECT
  CAST(o.o_orderkey AS STRING)                         AS complaint_id,
  c.c_name                                             AS company,
  o.o_orderpriority                                    AS product,
  CASE WHEN o.o_orderkey % 7 = 0 THEN ''
       ELSE c.c_mktsegment END                         AS sub_product,
  c.c_mktsegment                                       AS issue,
  CASE WHEN o.o_orderkey % 5 = 0 THEN ''
       ELSE o.o_orderstatus END                        AS sub_issue,
  CASE WHEN o.o_orderkey % 11 = 0 THEN ''
       ELSE 'XXXX ' || d.text || ' XXXX XXXXXXXX' END  AS complaint_what_happened,
  CASE
    WHEN o.o_orderkey % 20 < 10 THEN 'Closed with explanation'
    WHEN o.o_orderkey % 20 < 13 THEN 'Closed with non-monetary relief'
    WHEN o.o_orderkey % 20 < 15 THEN 'In progress'
    WHEN o.o_orderkey % 20 < 17 THEN 'Closed with monetary relief'
    WHEN o.o_orderkey % 20 = 17 THEN 'Closed without relief'
    WHEN o.o_orderkey % 20 = 18 THEN 'Closed'
    WHEN o.o_orderkey % 40 = 19 THEN 'Untimely response'
    ELSE 'Closed with relief'
  END                                                  AS company_response,
  CASE WHEN o.o_orderkey % 13 = 0 THEN ''
       WHEN o.o_orderstatus = 'F' THEN 'Yes'
       ELSE 'No' END                                   AS timely,
  n.n_name                                             AS state,
  CAST(10000 + (o.o_custkey % 90000) AS STRING)        AS zip_code,
  CAST(CAST(o.o_orderdate AS DATE) AS STRING)          AS date_received,
  CAST(CAST(o.o_orderdate AS DATE) AS STRING)          AS date_sent_to_company,
  CASE WHEN o.o_orderkey % 3 = 0 THEN 'Web'
       WHEN o.o_orderkey % 3 = 1 THEN 'Referral'
       ELSE 'Phone' END                                AS submitted_via,
  ''                                                   AS company_public_response,
  'Consent provided'                                   AS consumer_consent_provided,
  ''                                                   AS consumer_disputed,
  ''                                                   AS tags,
  CASE WHEN o.o_orderkey % 97 = 0 THEN 'corrupt'
       ELSE NULL END                                   AS _corrupt_record
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
CROSS JOIN (SELECT count(*) AS nd FROM documents) x
LEFT JOIN documents d ON d.doc_id = o.o_orderkey % x.nd
""".strip()


def complaints_cte(body_sql: str, extra_ctes: dict[str, str] | None = None) -> str:
    """Wrap an oracle query body in ``WITH complaints AS (fixture), ...``.

    ``extra_ctes`` are appended after the fixture CTE in insertion order, so
    later CTEs may reference earlier ones.
    """
    ctes = [f"complaints AS (\n{COMPLAINTS_FIXTURE_SQL}\n)"]
    for name, sql in (extra_ctes or {}).items():
        ctes.append(f"{name} AS (\n{sql}\n)")
    return "WITH " + ",\n".join(ctes) + "\n" + body_sql


# the test tables the fixture SQL reads
_TABLES = tuple(dict.fromkeys(t for _, t in readers._TABLE_REF.findall(COMPLAINTS_FIXTURE_SQL)))


def memo_on_inputs(kind: str, spark: SparkSession, sf_dir: str, build):
    """``operators.cache.memo`` for a frame derived from the fixture's
    input files: one entry per ``sf_dir``, named ``"<kind> <realpath>"``,
    rebuilt — old entry released first — when those files change."""
    name = f"{kind} {os.path.realpath(sf_dir)}"
    inputs = [readers.table_path(sf_dir, t) for t in _TABLES]
    return CACHE.memo(name, None, spark, build, inputs)


def complaints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complaints fixture in Spark: one persisted frame per input.

    Runs the *same SQL text* the DuckDB oracle uses, with the parquet
    tables bound per call (``readers.run_sql``) — guaranteeing fixture
    parity by construction.  Catalyst plans this like any DataFrame
    program (the joins against customer/nation/documents are
    auto-broadcast: all three are small dims).

    The frame is built once per (``sf_dir``, files, session) through
    ``memo_on_inputs`` and persisted at the default level; the first
    action on it fills the cache, so building it runs no Spark job and
    every later report reads the cached rows instead of four tables.
    """

    def build():
        df = readers.run_sql(spark, sf_dir, COMPLAINTS_FIXTURE_SQL).persist()
        return df, [df]

    return memo_on_inputs("complaints", spark, sf_dir, build)

"""Expected results from DuckDB, and the comparison the correctness gate uses.

Expected values are computed once per run, before any timed operation, by
running SQL in DuckDB over the same parquet files Spark reads.  Catalog
reports use the catalog entry's own ``oracle`` SQL.  Slice reports and the
training-size expectations use the SQL below, written here against
``sources.fixtures.complaints_cte`` so it shares only the fixture definition
with the program, not the program's cleaning or encoding code.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

FIXTURE_TABLES = ("orders", "customer", "nation", "documents")

# clean_complaints, restated: corrupt-drop, blank recode, required non-blank.
CLEANED_SQL = """
SELECT complaint_id, company, product,
  CASE WHEN sub_product = '' THEN 'Not Available' ELSE sub_product END AS sub_product,
  issue,
  CASE WHEN sub_issue = '' THEN 'Not Available' ELSE sub_issue END AS sub_issue,
  complaint_what_happened, company_response, timely, state, date_received
FROM complaints
WHERE _corrupt_record IS NULL
  AND trim(coalesce(company, '')) <> '' AND trim(coalesce(product, '')) <> ''
  AND trim(coalesce(issue, '')) <> '' AND trim(coalesce(company_response, '')) <> ''
  AND trim(coalesce(timely, '')) <> ''
""".strip()

# One slice report: the flagship aggregate restricted to one state, product
# or year.  Frequencies are over the whole cleaned table, as in the Spark plan
# (frequency_encode runs before the filter).
SLICE_COLUMNS = {"state": "c.state", "product": "c.product",
                 "year": "EXTRACT(YEAR FROM CAST(c.date_received AS DATE))"}
SLICE_SQL = """
SELECT c.company_response,
       COUNT(*) AS n_complaints,
       ROUND(AVG(f.frequency_company), 6) AS avg_company_freq,
       CAST(SUM(CASE WHEN c.timely = 'Yes' THEN 1 ELSE 0 END) AS BIGINT) AS n_timely
FROM cleaned c
JOIN (SELECT company, COUNT(*) AS frequency_company FROM cleaned GROUP BY company) f
  ON c.company = f.company
WHERE {column} = {value}
GROUP BY c.company_response
""".strip()

# A float may differ in its last rounding unit: both engines round to 6
# decimals, and a value that lands on a rounding boundary can go either way.
FLOAT_ABS_TOL = 1.5e-6


def connect(data_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    for t in FIXTURE_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def canonical(columns: list[str], rows) -> dict:
    """Order-insensitive form of a result: columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_cell(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: [(x is None, isinstance(x, float), str(x)) for x in r])
    return {"columns": [columns[i] for i in order], "rows": out}


def from_duckdb(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    res = con.execute(sql)
    return canonical([d[0] for d in res.description], res.fetchall())


def mismatch(expected: dict, got: dict) -> str | None:
    """None when ``got`` matches ``expected``; otherwise the first difference."""
    if expected["columns"] != got["columns"]:
        return f"columns {got['columns']} != expected {expected['columns']}"
    if len(expected["rows"]) != len(got["rows"]):
        return f"{len(got['rows'])} rows != expected {len(expected['rows'])}"
    for i, (e, g) in enumerate(zip(expected["rows"], got["rows"])):
        for a, b in zip(e, g):
            if isinstance(a, float) and isinstance(b, (int, float)):
                if not math.isclose(a, b, rel_tol=1e-12, abs_tol=FLOAT_ABS_TOL):
                    return f"row {i}: {g} != expected {e}"
            elif a != b:
                return f"row {i}: {g} != expected {e}"
    return None


def slice_sql(complaints_cte, column: str, value) -> str:
    literal = str(int(value)) if column == "year" else "'" + str(value).replace("'", "''") + "'"
    body = SLICE_SQL.format(column=SLICE_COLUMNS[column], value=literal)
    return complaints_cte(body, {"cleaned": CLEANED_SQL})


def cleaned_counts(con, complaints_cte, column: str) -> dict[str, int]:
    sql = complaints_cte(
        f"SELECT {column}, COUNT(*) FROM cleaned GROUP BY {column}", {"cleaned": CLEANED_SQL}
    )
    return {k: int(n) for k, n in con.execute(sql).fetchall()}


def slice_domains(con, complaints_cte) -> dict[str, list]:
    """Distinct values of each slice column in the cleaned table, sorted."""
    out = {}
    for name, expr in SLICE_COLUMNS.items():
        sql = complaints_cte(
            f"SELECT DISTINCT {expr.replace('c.', '')} AS v FROM cleaned ORDER BY v",
            {"cleaned": CLEANED_SQL},
        )
        out[name] = [r[0] for r in con.execute(sql).fetchall()]
    return out

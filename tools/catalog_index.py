"""Generate QUERIES.md (the catalog index) from the live registry.

Run from the repo root after adding catalog entries:

    python tools/catalog_index.py

tests/test_plans.py::test_queries_md_in_sync fails whenever the
committed file drifts from the registry, so the index cannot rot.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50


def render() -> str:
    import __spark_entry__ as E
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        catalog,
    )

    names = list(E.queries())
    n = len(names)
    o = sum(1 for sp in catalog.CATALOG.values() if sp.oracle)
    t = sum(1 for sp in catalog.CATALOG.values() if sp.twin_of)
    lines = [
        "# Query catalog index",
        "",
        f"{n} registered queries; {o} DuckDB-oracled (row count + schema + "
        f"value hash), {n - o} rows-only (value checks in pytest).  Listed "
        "in driver priority order —",
        "the first 50 form the correctness driver's per-round window; "
        "overflow entries",
        "name their covering in-window twin in `__spark_entry__.py`.",
        "",
        f"{t} entries are fast/approx/prebuilt production twins: `twin of` "
        "names the exact",
        "anchor entry and each pair's equality/deviation bound is pinned by "
        "the pytest in",
        "`QuerySpec.twin_pin` (see `plans/catalog.py`).",
        "",
        "| # | query | check | twin of | tags |",
        "|---|---|---|---|---|",
    ]
    for i, name in enumerate(names, 1):
        spec = catalog.CATALOG[name]
        check = "oracle" if spec.oracle else "rows-only"
        win = " (window)" if i <= WINDOW else ""
        twin = f"`{spec.twin_of}`" if spec.twin_of else ""
        lines.append(
            f"| {i}{win} | `{name}` | {check} | {twin} | "
            f"{', '.join(spec.tags)} |"
        )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    with open("QUERIES.md", "w") as f:
        f.write(render())
    print("wrote QUERIES.md")

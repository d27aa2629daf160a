"""Pin bench coverage: every catalog entry is benched or named-excluded.

VERDICT r7 item 2: 59 of 199 entries were absent from the bench artifact
with no committed criterion, so their wall-time regressions were
invisible.  ``BENCH_QUERIES`` is every catalog entry not in
``BENCH_EXCLUDED``; these tests pin that the two still partition the
catalog (an exclusion naming a deleted entry fails) and that every
exclusion carries a reason.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_bench_covers_catalog_exactly():
    import bench
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        catalog,
    )

    benched = set(bench.BENCH_QUERIES)
    excluded = set(bench.BENCH_EXCLUDED)
    names = set(catalog.CATALOG)

    assert len(bench.BENCH_QUERIES) == len(benched), "duplicate bench entries"
    assert not (benched & excluded), f"both benched and excluded: {benched & excluded}"
    assert benched | excluded == names, (
        f"uncovered={sorted(names - benched - excluded)} "
        f"unknown={sorted((benched | excluded) - names)}"
    )


def test_exclusions_have_reasons():
    import bench

    for name, reason in bench.BENCH_EXCLUDED.items():
        assert isinstance(reason, str) and len(reason) > 40, (
            f"exclusion {name!r} needs a substantive committed reason"
        )

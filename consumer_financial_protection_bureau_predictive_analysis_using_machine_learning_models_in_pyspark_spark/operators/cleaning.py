"""Cleaning operators (SURVEY §2.2 P2/P4/P5/P8/P9, §2.10 `clean_complaints`).

Reference behavior being re-expressed:
- drop ``_corrupt_record`` rows/column (reference init.py:27,
  decision_tree_final_class_8.py:50);
- recode blank strings to 'Not Available' (reference init.py:32-33,
  timely_LR.py:50-51);
- keep only rows where key columns are non-null and non-blank after trim
  (reference decision_tree_final_class_8.py:52-54, company_response_RF.py:18-20);
- the reference's RDD ``zipWithIndex`` header-skip (reference init.py:29) is
  deliberately NOT reproduced: it drops an arbitrary record from a JSON
  source and forces a full serialization hop (SURVEY §2.12).

All of it is plain column expressions → fully pushdown-able by Catalyst; on
Parquet the null/blank predicates reach the scan.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas

NOT_AVAILABLE = "Not Available"


def non_blank(c: str | Column) -> Column:
    """Predicate: NOT(isnull(c) OR trim(c) = '') — reference
    decision_tree_final_class_8.py:52-54 (P5)."""
    col = F.col(c) if isinstance(c, str) else c
    return ~(F.isnull(col) | (F.trim(col) == F.lit("")))


def drop_corrupt(df: DataFrame) -> DataFrame:
    """Filter out corrupt-record rows, then drop the marker column (P2+P4)."""
    if schemas.CORRUPT_COL not in df.columns:
        return df
    return df.filter(F.col(schemas.CORRUPT_COL).isNull()).drop(schemas.CORRUPT_COL)


def recode_blanks(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Blank → 'Not Available' via when/otherwise (P8; reference
    init.py:32-33).

    One ``withColumns`` call (not a loop of ``withColumn``) so the plan gets
    a single Project node regardless of how many columns are recoded.
    """
    return df.withColumns(
        {
            c: F.when(F.col(c) == "", F.lit(NOT_AVAILABLE)).otherwise(F.col(c))
            for c in cols
        }
    )


def filter_non_blank(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Keep rows where every listed column is non-null and non-blank (P5)."""
    pred = None
    for c in cols:
        p = non_blank(c)
        pred = p if pred is None else (pred & p)
    return df if pred is None else df.filter(pred)


# the columns a cleaned complaint must fill, and the ones recoded when blank
REQUIRED = ("company", "product", "issue", "company_response", "timely")
RECODED = ("sub_product", "sub_issue")


def clean_complaints(df: DataFrame) -> DataFrame:
    """Composite `clean_complaints` (SURVEY §2.10; reference init.py:13-33 +
    decision_tree_final_class_8.py:47-54): corrupt-drop → blank-recode of
    ``RECODED`` → ``REQUIRED``-column filter.

    Single-pass: all three are narrow transformations, no shuffle; Catalyst
    collapses them into one scan+filter+project stage.
    """
    return filter_non_blank(recode_blanks(drop_corrupt(df), RECODED), REQUIRED)


class CleanQuality:
    """The data-quality counters of one ``observed_clean`` pass.

    They ride a *named* ``observe`` on the cleaned frame, and ``get`` reads
    them back from the query that frame ran (``QueryExecution``'s observed
    metrics).  So they fill in after a ``collect()``/``toPandas()`` of that
    frame; before it, or after another action (``count()`` runs a different
    query), the counters read as 0 or None.  No ``pyspark.sql.Observation`` is
    used: registering one creates the session's ObservationManager, which
    Spark keeps in a non-transient session field and cannot serialize, so
    every later task whose closure holds the session fails "Task not
    serializable" (an LR model's training summary holds it, and
    ``transform`` ships the model).
    """

    def __init__(self, frame: DataFrame, name: str):
        self._frame, self._name = frame, name

    @property
    def get(self) -> dict:
        from pyspark.serializers import CPickleSerializer

        row = self._frame._jdf.queryExecution().observedMetrics().apply(self._name)
        utils = self._frame.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
        return CPickleSerializer().loads(utils.toPyRow(row)).asDict()


def observed_clean(df: DataFrame, required: Sequence[str]) -> tuple[DataFrame, CleanQuality]:
    """clean + data-quality counters in the SAME pass (`df.observe`):
    rows_in, rows_corrupt, and per-column blank counts accumulate as the
    action runs — no second scan, unlike the reference's separate count()
    jobs per question (decision_tree_final_class_8.py:166-175 pattern).

    Returns (cleaned_df, quality); read ``quality.get`` AFTER collecting
    the returned frame (see ``CleanQuality``).
    """
    metrics = [F.count(F.lit(1)).alias("rows_in")]
    if schemas.CORRUPT_COL in df.columns:
        metrics.append(
            F.sum(
                F.when(F.col(schemas.CORRUPT_COL).isNotNull(), 1).otherwise(0)
            ).alias("rows_corrupt")
        )
    for c in required:
        metrics.append(
            F.sum(F.when(non_blank(c), 0).otherwise(1)).alias(f"blank_{c}")
        )
    # observe names must be unique within one plan (two cleaned frames may join)
    name = f"clean_quality_{uuid.uuid4().hex}"
    cleaned = drop_corrupt(df.observe(name, *metrics))
    for c in required:
        cleaned = cleaned.filter(non_blank(c))
    return cleaned, CleanQuality(cleaned, name)

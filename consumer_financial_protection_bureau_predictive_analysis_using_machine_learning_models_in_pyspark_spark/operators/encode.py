"""Feature-encoding operators (SURVEY §2.10 `frequency_encode`, `date_parts`).

Reference behavior:
- frequency encoding of high-cardinality categoricals: groupBy(key).count →
  left-join back → drop key (reference decision_tree_final_class_8.py:75-84,
  company_response_RF.py:48-51).  Chosen there over one-hot because `company`
  has ~7,000 values (reference README.md:21).
- date parts: cast string → timestamp → year/month/day int columns
  (reference timely_LR.py:57-62, complaints_narrative_LDA.py:34-39).

Scale posture: the frequency dim is tiny (≤ cardinality of the key), so the
join-back is explicitly broadcast — no shuffle of the 100 TB fact side.  The
aggregation itself is a partial+final hash agg (map-side combine), and for a
skewed key like `company` AQE handles the hot partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequency_encode(df: DataFrame, key: str) -> DataFrame:
    """Composite frequency encode: ``groupBy(key).count()`` as
    ``frequency_<key>`` (A1) + broadcast left join (J1/J2).

    The reference leaves join strategy to the planner; at 100 TB the dim
    (≤ ~7,000 rows for `company`) must be broadcast so the fact table never
    shuffles — hence the explicit hint.
    """
    freq = df.groupBy(key).agg(F.count(F.lit(1)).alias(f"frequency_{key}"))
    return df.join(F.broadcast(freq), on=key, how="left")


def date_parts(df: DataFrame, src_col: str) -> DataFrame:
    """Cast string column to timestamp and derive year/month/day ints
    (reference timely_LR.py:57-62).

    Uses ``try_to_timestamp`` rather than a bare cast so malformed date
    strings degrade to NULL parts instead of failing the job under ANSI mode
    (Spark 4 default).
    """
    ts = F.try_to_timestamp(F.col(src_col))
    return df.withColumns(
        {"year": F.year(ts), "month": F.month(ts), "day": F.dayofmonth(ts)}
    )

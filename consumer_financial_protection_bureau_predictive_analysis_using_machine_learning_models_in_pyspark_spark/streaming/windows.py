"""Event-time windowing — batch semantics with streaming-compatible shapes
(SURVEY §2.11: the reference is pure batch; this is the extension surface).

Each operator is written against an event-time column + keys, exactly the
shape Structured Streaming requires, so the same transformation runs under
``readStream`` with a watermark bolted on (see ``streaming.jobs``).

Scale posture: tumbling aggregation is a keyed hash agg — the
shuffle key includes the window start, so skew is bounded by (key × window)
cardinality.  Sessionization uses the gaps-and-islands window pattern in
batch (lag + cumulative flag sum) and ``session_window`` under streaming.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: list,
) -> DataFrame:
    """Tumbling-window aggregation: groupBy(window(ts, d), *keys).agg(...).

    The window struct is flattened to ``window_start``/``window_end`` so the
    result stays ANSI-SQL-shaped (oracle: date_trunc / time_bucket).
    """
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    gap_seconds: int,
) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts when the
    gap to the previous event of the same key exceeds ``gap_seconds``.

    Adds ``session_id`` (0-based per key).  Streaming equivalent:
    ``F.session_window(ts, gap)`` — same session boundaries.
    One shuffle (partitionBy key), per-key sort inside the window.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    # timestampdiff(MICROSECOND, ...) is pure calendar arithmetic — exact and
    # timezone-free on TIMESTAMP_NTZ (a double cast is neither: NTZ doesn't
    # cast to double, and LTZ epochs shift with the session timezone).
    gap_us = F.expr(f"timestampdiff(MICROSECOND, _prev_ts, {ts_col})")
    new_sess = F.when(
        F.col("_prev_ts").isNull() | (gap_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    return (
        df.withColumn("_prev_ts", F.lag(F.col(ts_col)).over(w))
        .withColumn(
            "session_id",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1,
        )
        .drop("_prev_ts")
    )


def session_stats(
    df: DataFrame, ts_col: str, key_cols: Sequence[str], gap_seconds: int
) -> DataFrame:
    """Per-session summary: start/end/duration/event count."""
    s = sessionize(df, ts_col, key_cols, gap_seconds)
    return (
        s.groupBy(*key_cols, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "duration_sec",
            F.expr("timestampdiff(MICROSECOND, session_start, session_end)") / 1e6,
        )
    )

"""Window-function operators (SURVEY §2.5).

The reference only uses a global orderBy (W1) and show(n) limits (W2); its
RDD ``zipWithIndex`` (init.py:29) is the degenerate form of a row ordinal.
The engine exposes the general analytic surface the extensions need:
per-group top-k, ordinals, running aggregates.

Scale posture: every function here partitions by a key — no
``Window.orderBy`` without ``partitionBy`` (a global window is a single-task
sort at 100 TB).  The ordinal operator that replaces zipWithIndex is
``monotonically_increasing_id`` (no shuffle, not dense) or a keyed
row_number when density matters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
    method: str = "row_number",
) -> DataFrame:
    """Top-k rows per group via a ranking window.

    ``method`` ∈ {row_number, rank, dense_rank}.  With a deterministic
    ``order_by`` (include a tiebreaker column!) row_number gives exactly k
    rows per group.
    """
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[
        method
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, fn().over(w))
        .filter(F.col(rank_col) <= k)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join: each left row gets the right row with the
    greatest ``right_ts`` ≤ ``left_ts`` within the same key — an operator
    Spark has no primitive for (DuckDB/Trino spell it ASOF JOIN; kdb calls
    it aj).

    Spark-first formulation: UNION the tagged sides and carry the right
    payload forward with ``last(ignorenulls)`` over (key ORDER BY ts, side)
    — right rows sort before left rows at equal ts, so "at-or-before" is
    inclusive.  ONE hash-partition shuffle by key + an in-partition sort;
    no range-condition join (which Spark would plan as a broadcast
    nested-loop or a cartesian at scale).

    Right payload columns come back as ``asof_<col>`` plus ``asof_ts``;
    rows with no prior right row keep nulls (left join semantics).
    """
    keys = list(on)
    lhs = left.withColumn("_side", F.lit(1))
    rhs = right.select(
        *keys,
        F.col(right_ts).alias(left_ts),
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("asof_ts"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
    )
    u = lhs.unionByName(rhs, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(left_ts), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        *[
            F.last(f"asof_{c}", ignorenulls=True).over(w).alias(f"_c_{c}")
            for c in value_cols
        ],
        F.last("asof_ts", ignorenulls=True).over(w).alias("_c_ts"),
    )
    return (
        carried.filter(F.col("_side") == 1)
        .drop("_side", "asof_ts", *[f"asof_{c}" for c in value_cols])
        .select(
            *left.columns,
            F.col("_c_ts").alias("asof_ts"),
            *[F.col(f"_c_{c}").alias(f"asof_{c}") for c in value_cols],
        )
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str = "w_start",
    end_col: str = "w_end",
    bucket: str = "1 hour",
) -> DataFrame:
    """Point-in-interval (range) join: every points row matched to every
    intervals row with ``start <= ts < end`` — another operator Spark has
    no primitive for (a naive range predicate plans as a broadcast
    nested-loop join, O(|points| × |intervals|) per task).

    Spark-first formulation: quantize the time axis into fixed ``bucket``
    cells, explode each interval over the cells it touches (an interval of
    length L lands in ceil(L/bucket)+1 cells), hash-join points to interval
    cells on the cell timestamp, then apply the exact range predicate as a
    post-filter.  The join is a plain equi-join — shuffle partitioned,
    AQE-splittable, no nested loop; cost scales with overlap density
    rather than the cross product.  Pick ``bucket`` near the median
    interval length: too fine explodes the interval side, too coarse
    funnels unrelated points into the same cell (the post-filter keeps it
    correct either way).
    """
    cell = F.explode(
        F.sequence(
            F.date_trunc(_BUCKET_TRUNC[bucket], F.col(start_col)),
            F.date_trunc(
                _BUCKET_TRUNC[bucket],
                F.col(end_col) - F.expr("INTERVAL 1 MICROSECOND"),
            ),
            F.expr(f"INTERVAL {bucket}"),
        )
    ).alias("_cell")
    # empty/inverted intervals (end <= start) match nothing by definition;
    # filter them out rather than letting F.sequence throw on a descending
    # boundary pair and fail the whole job
    iv = intervals.filter(F.col(end_col) > F.col(start_col)).select("*", cell)
    pt = points.withColumn(
        "_cell", F.date_trunc(_BUCKET_TRUNC[bucket], F.col(ts_col))
    )
    return (
        pt.join(iv, "_cell")
        .filter(
            (F.col(ts_col) >= F.col(start_col))
            & (F.col(ts_col) < F.col(end_col))
        )
        .drop("_cell")
    )


_BUCKET_TRUNC = {
    "1 minute": "minute",
    "1 hour": "hour",
    "1 day": "day",
}


def multires_rollup(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    levels: Sequence[str] = ("minute", "hour", "day"),
) -> DataFrame:
    """Hypertable-style multi-resolution rollup: aggregate at the finest
    level from raw rows, then derive each coarser level FROM THE
    FINER PARTIALS (count-sum re-aggregation), never re-scanning the
    input — the continuous-aggregate pattern.  The finest frame is
    persisted: at scale it is the materialized rollup table the coarser
    levels (and dashboards) read.

    Returns (level, bucket_start, *keys, n_events, sum_value) for every
    level, bucket starts rendered as strings (tz-safe across engines).
    """
    from pyspark import StorageLevel

    ks = list(keys)
    finest = (
        df.groupBy(
            F.date_trunc(levels[0], F.col(ts_col)).alias("bucket_start"), *ks
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("sum_dec"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    frames = [finest.withColumn("level", F.lit(levels[0]))]
    prev = finest
    for lvl in levels[1:]:
        cur = (
            prev.groupBy(
                F.date_trunc(lvl, F.col("bucket_start")).alias("bucket_start"),
                *ks,
            )
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_dec").alias("sum_dec"),
            )
        )
        frames.append(cur.withColumn("level", F.lit(lvl)))
        prev = cur
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "level",
        F.col("bucket_start").cast("string").alias("bucket_start"),
        *ks,
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


def concurrency_sweep(
    intervals: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
    materialize: bool = True,
) -> DataFrame:
    """Per-day peak concurrency of an interval set by HIERARCHICAL
    sweep-line: the number of intervals simultaneously open, computed
    without the O(n²) interval self-join AND without a single global
    ordered window.

    Classic sweep-line needs one globally-ordered running sum — a
    one-task funnel at 100 TB.  This is the two-phase decomposition
    (same shape as pipeline.pack_sequences' bucket prefix sum): phase 1
    computes within-DAY cumulative starts/ends with windows partitioned
    by day (parallel across days); phase 2 derives each day's base
    offsets with a window over the DAY-COUNT-sized daily-totals frame
    (bounded: one row per calendar day), which joins back as a tiny dim.
    Correctness of the decomposition is proven by the catalog oracle,
    which computes the NAIVE single global window form — both must
    produce identical values.

    End semantics are inclusive: an interval ending at instant t is
    still open at t (its end is subtracted only after t), so touching
    intervals count as concurrent.

    Every calendar day in [min start day, max end day] gets a row, not
    just days with interval endpoints: the grid is densified with a
    synthetic midnight sweep point per day, so a day lying entirely
    inside a long interval (a lease, an incident) reports its carried
    concurrency (peak_ts = midnight) instead of silently vanishing.
    The sweep-point frame feeds three consumers and is persisted by
    default (``materialize``) so the upstream interval build runs once.

    Returns one row per day: (day, max_concurrent, peak_ts = earliest
    instant attaining the max, n_started, n_ended).
    """
    from pyspark.sql import Window

    pts0 = (
        intervals.select(
            F.col(start_col).alias("ts"),
            F.lit(1).alias("_ns"),
            F.lit(0).alias("_ne"),
        )
        .unionByName(
            intervals.select(
                F.col(end_col).alias("ts"),
                F.lit(0).alias("_ns"),
                F.lit(1).alias("_ne"),
            )
        )
        .groupBy("ts")
        .agg(
            F.sum("_ns").cast("bigint").alias("ns"),
            F.sum("_ne").cast("bigint").alias("ne"),
        )
    )
    # densify: one synthetic midnight point per day in the span (a
    # calendar-bounded frame), merged with any real midnight points
    span = pts0.agg(
        F.min(F.to_date("ts")).alias("_d0"),
        F.max(F.to_date("ts")).alias("_d1"),
    )
    syn = span.select(
        F.explode(F.sequence("_d0", "_d1")).alias("_day")
    ).select(
        F.col("_day").cast("timestamp").alias("ts"),
        F.lit(0).cast("bigint").alias("ns"),
        F.lit(0).cast("bigint").alias("ne"),
    )
    pts = (
        pts0.unionByName(syn)
        .groupBy("ts")
        .agg(
            F.sum("ns").cast("bigint").alias("ns"),
            F.sum("ne").cast("bigint").alias("ne"),
        )
        .withColumn("day", F.to_date("ts"))
    )
    if materialize:
        from pyspark import StorageLevel

        pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    wd = Window.partitionBy("day").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = pts.select(
        "day",
        "ts",
        "ns",
        "ne",
        F.sum("ns").over(wd).alias("_cs_in"),
        F.sum("ne").over(wd).alias("_ce_in"),
    )
    daily = pts.groupBy("day").agg(
        F.sum("ns").cast("bigint").alias("_d_ns"),
        F.sum("ne").cast("bigint").alias("_d_ne"),
    )
    wdays = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = daily.select(
        "day",
        F.coalesce(F.sum("_d_ns").over(wdays), F.lit(0)).alias("_base_cs"),
        F.coalesce(F.sum("_d_ne").over(wdays), F.lit(0)).alias("_base_ce"),
    )
    # inclusive ends: subtract this instant's ends AFTER the instant
    act = within.join(base, "day").select(
        "day",
        "ts",
        "ns",
        "ne",
        (
            (F.col("_base_cs") + F.col("_cs_in"))
            - (F.col("_base_ce") + F.col("_ce_in") - F.col("ne"))
        )
        .cast("bigint")
        .alias("active"),
    )
    wmax = Window.partitionBy("day")
    peaks = (
        act.withColumn("_mx", F.max("active").over(wmax))
        .filter(F.col("active") == F.col("_mx"))
        .groupBy("day")
        .agg(
            F.max("active").cast("bigint").alias("max_concurrent"),
            F.min("ts").alias("peak_ts"),
        )
    )
    counts = daily.select(
        "day",
        F.col("_d_ns").alias("n_started"),
        F.col("_d_ne").alias("n_ended"),
    )
    return peaks.join(counts, "day").orderBy("day")

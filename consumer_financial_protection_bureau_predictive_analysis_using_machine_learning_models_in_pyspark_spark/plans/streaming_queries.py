"""Catalog entries that execute REAL Structured Streaming queries
(readStream → watermarked stateful op → availableNow drain → memory sink)
and return the drained result as a DataFrame.

Oracle discipline: in append mode with availableNow, a stateful op emits
exactly the windows/sessions whose end is at or below the FINAL watermark
(max event time − delay); the DuckDB oracle reproduces that emission
predicate in SQL, so the streaming path is value-checked end to end — not
just "it ran".  The custom applyInPandasWithState operator is rows-only
(per-key Python state is the genuinely-non-SQL case).

Timezone discipline: event time rides as NTZ→LTZ cast + LTZ→string render,
both under the SAME session timezone, so the naive wall-clock round-trips
identically under any driver session tz (no DST transitions in the
fixture's Jan-2024 span).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import jobs as SJ
from .catalog import _t, register

_SINK_IDS = itertools.count()


def _drain(
    spark: SparkSession,
    stream: DataFrame,
    mode: str = "append",
) -> DataFrame:
    """Drain to a memory sink with a pinned state-partition count.

    A streaming query's state-store partition count is fixed at FIRST start
    from ``spark.sql.shuffle.partitions`` — under a vanilla session that is
    200, i.e. 200 state-store providers to open/commit per micro-batch for
    sf0.01-sized fixtures.  The pin lives in
    ``streaming.jobs.pinned_state_partitions``, held by ``run_to_memory`` →
    ``_start_and_drain`` around query start (the moment the state layout is
    locked): every stream commits the deliberate ``STREAM_STATE_PARTITIONS``
    sizing (env ``SPARK_GRAFT_STREAM_STATE_PARTITIONS``, default 8 — r13:
    each stateful op commits one state delta per partition per micro-batch,
    so an inherited 32/200 multiplies fixed checkpoint I/O for no
    parallelism gain at per-batch state sizes; production sizes it to state
    volume).  (ADVICE r13: the former ``shuffle_partitions`` parameter here
    was dead — ``_start_and_drain`` re-pins with no argument at start, so an
    outer override never reached the query — removed rather than threaded
    through: no caller ever passed it, and one knob with one spelling
    beats two.)
    """
    name = f"stream_sink_{os.getpid()}_{next(_SINK_IDS)}"
    SJ.run_to_memory(stream, name, output_mode=mode)
    return spark.table(name)


@register(
    "stream_windowed_counts",
    """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT CAST(date_trunc('hour', ts) AS STRING) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
""",
    "streaming", "window-agg", "watermark",
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling counts, run AS A STREAM and drained; append
    mode emits exactly the hours closed by the final watermark — the oracle
    reproduces that emission predicate."""
    out = _drain(spark, SJ.windowed_counts(SJ.read_events_stream(spark, sf_dir)))
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "stream_static_enrich",
    """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
dim AS (
  SELECT user_id,
         CASE WHEN COUNT(*) >= 10 THEN 'heavy'
              WHEN COUNT(*) >= 5 THEN 'mid'
              ELSE 'light' END AS tier
  FROM events GROUP BY user_id
)
SELECT CAST(date_trunc('hour', e.ts) AS STRING) AS window_start,
       d.tier,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN dim d USING (user_id), wm
WHERE date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
""",
    "streaming", "stream-static-join", "watermark",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join run AS A STREAM and drained: events enriched
    with a static per-user activity tier, then watermarked tumbling
    counts per tier.  The oracle replays the batch equivalent under the
    same append-mode emission predicate as stream_windowed_counts.  The
    static side re-resolves per micro-batch and holds no join state; the
    per-user dim is scale-linear so it is deliberately unhinted (see
    streaming/jobs.static_enrich_counts)."""
    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.when(F.count(F.lit(1)) >= 10, "heavy")
        .when(F.count(F.lit(1)) >= 5, "mid")
        .otherwise("light")
        .alias("tier")
    )
    out = _drain(
        spark,
        SJ.static_enrich_counts(SJ.read_events_stream(spark, sf_dir), dim),
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "tier",
        "n_events",
        "sum_value",
    )


@register(
    "stream_session_stats",
    """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
lagged AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
agg AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, CAST(session_start AS STRING) AS session_start,
       CAST(session_end AS STRING) AS session_end, n_events, sum_value
FROM agg, wm WHERE session_end <= wm.w
""",
    "streaming", "session-window", "watermark",
)
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30 min gap) under a stream; the oracle is the
    gaps-and-islands batch twin restricted to sessions the final watermark
    closed (session end = last event + gap)."""
    out = _drain(
        spark, SJ.session_windows(SJ.read_events_stream(spark, sf_dir))
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "n_events",
        "sum_value",
    )


@register(
    "stream_dedup_events",
    """
SELECT event_id, CAST(ts AS STRING) AS ts, user_id, event_type, value
FROM events
""",
    "streaming", "dedup", "watermark",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark keyed on event_id with a horizon
    covering the fixture span: ids are unique, so the exactly-once repair
    stage must reproduce the input exactly — which the oracle checks."""
    stream = SJ.read_events_stream(spark, sf_dir)
    out = _drain(
        spark,
        SJ.dedup_within_watermark(stream, keys=("event_id",), watermark="365 days"),
    )
    return out.select(
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


@register("stream_running_user_stats", None, "streaming", "stateful", "custom")
def stream_running_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key state via applyInPandasWithState (update mode): final
    emission per user == whole-history aggregate.  Rows-only: per-key Python
    state is the genuinely-non-SQL streaming case; value checks live in
    tests/test_streaming.py."""
    from pyspark.sql import Window

    out = _drain(
        spark,
        SJ.running_user_stats(SJ.read_events_stream(spark, sf_dir)),
        mode="update",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
            F.col("max_ts").cast("string").alias("max_ts"),
        )
    )


@register(
    "stream_click_purchase_join",
    """
SELECT c.event_id AS click_id,
       c.user_id,
       CAST(c.ts AS STRING) AS click_ts,
       c.value AS click_value,
       p.event_id AS purchase_id,
       CAST(p.ts AS STRING) AS purchase_ts,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts > c.ts - INTERVAL 1 HOUR
 AND p.ts <= c.ts
""",
    "streaming", "stream-stream-join", "watermark",
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks × same-user purchases
    within the preceding hour), drained with availableNow; inner-join
    emission is complete once the source is exhausted, so the batch range
    join is the exact oracle."""
    ev1 = SJ.read_events_stream(spark, sf_dir)
    ev2 = SJ.read_events_stream(spark, sf_dir)
    out = _drain(
        spark,
        SJ.click_purchase_join(
            ev1.filter(F.col("event_type") == "click"),
            ev2.filter(F.col("event_type") == "purchase"),
        ),
    )
    return out.select(
        "click_id",
        "user_id",
        F.col("click_ts").cast("string").alias("click_ts"),
        "click_value",
        "purchase_id",
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
        "purchase_value",
    )


@register(
    "stream_semantic_dedup", None,
    "streaming", "semdedup", "incremental", "foreachBatch",
)
def stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SemDeDup end-to-end (streaming.jobs.
    run_streaming_semantic_dedup): the 80% corpus slice's canonical IVF
    index is the offline artifact; the 20% batch slice arrives as TWO
    parquet files (vec_id%10==0 then %10==5), each a micro-batch, and
    every batch is triaged against corpus canonicals + earlier batches'
    kept docs, with statuses and kept-vector state written idempotently
    under _batch_id partitions.  Rows-only (KMeans upstream);
    sequential equivalence with batch-mode incremental dedup and replay
    idempotency are pinned in pytest.

    The work dir is memoized per sf_dir and cleaned at exit (repeated
    calls resume the checkpoint: a drained source adds no batches and
    the statuses re-read the same partitions)."""
    from ..operators import dedup as DD
    from ..operators import similarity as SIM
    from .text_queries import ivf_index_for

    def frames():
        emb = _t(spark, sf_dir, "embeddings")
        return [emb.filter(f"pmod(vec_id, 10) == {r}") for r in (0, 5)]

    work = SJ.stage_microbatches("stream_semantic_dedup", sf_dir, frames)
    flat = f"{work}/batches"

    idx = ivf_index_for(
        spark, sf_dir, n_assign=3, where="pmod(vec_id, 5) != 0"
    )
    # Offline canonical-set computation, duplication-factor routed (r13):
    # the direct per-cell all-pairs is memory-quadratic in clone depth —
    # the exact class that OOMed ann_semantic_canonical_fast at the sf10
    # wall — so on clone-heavy corpora the loser set comes from the
    # collapse-first governor (semantic_collapsed_frame over the corpus
    # slice, rep-level per-cell verify + member expansion) instead.  On
    # the clone-light fixtures the factor probe routes the ORIGINAL path,
    # so the sequential-equivalence pins and driver rows are unchanged.
    from ..operators.dispatch import duplication_factor

    corpus80 = (
        _t(spark, sf_dir, "embeddings")
        .filter("pmod(vec_id, 5) != 0")
        .select("vec_id", "embedding")
    )
    if duplication_factor(corpus80, F.col("embedding")) >= 2.0:
        from .breadth13 import semantic_collapsed_frame

        def rep_pairs(reps: DataFrame) -> DataFrame:
            ridx = SIM.ivf_build(reps, n_cells=8, n_assign=3)
            return SIM.semantic_dedup_pairs_fast(ridx, threshold=0.35)

        losers = (
            semantic_collapsed_frame(corpus80, pairs_of_reps=rep_pairs)
            .filter(~F.col("kept"))
            .select(F.col("vec_id").alias("neighbor_id"))
        )
    else:
        pairs = SIM.semantic_dedup_pairs_fast(idx, threshold=0.35).select(
            F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b")
        )
        losers = (
            DD.connected_components(pairs)
            .filter(F.col("doc_id") != F.col("component"))
            .select(F.col("doc_id").alias("neighbor_id"))
        )
    # materialize the canonical assignment ONCE (it IS the offline
    # artifact this entry serves): unmaterialized, every micro-batch
    # re-ran the loser anti-join as part of its probe plan (r13
    # optimization; localCheckpoint also truncates the CC lineage the
    # losers frame carries).  swap_local_checkpoint: each cold re-run
    # rebuilds this artifact, and a localCheckpoint is invisible to the
    # CacheManager — without the swap the session accumulated one dead
    # checkpointed RDD per run (r14 hygiene sweep, pinned in
    # tests/test_cache_hygiene.py)
    from ..operators.cache import swap_local_checkpoint

    canon_assigned = swap_local_checkpoint(
        f"stream_semantic_dedup.canon:{sf_dir}",
        idx.assigned.join(losers, "neighbor_id", "left_anti").localCheckpoint(),
    )
    canon_idx = SIM.IvfIndex(canon_assigned, idx.centroids, idx.n_assign)

    stream = SJ.read_embeddings_stream(spark, flat, max_files_per_trigger=1)
    SJ.run_streaming_semantic_dedup(
        stream,
        canon_idx,
        f"{work}/out",
        f"{work}/kept",
        f"{work}/ckpt",
        threshold=0.35,
    )
    return (
        spark.read.parquet(f"{work}/out")
        .select("doc_id", "status", F.col("_batch_id").cast("int").alias("batch"))
        .orderBy("batch", "doc_id")
    )


# The event-stream gate's checks — shared verbatim with the pytest
# corrupt-batch fixture so the two can't drift.
EVENT_GATE_CHECKS = {
    "events.type_domain": lambda: ~F.col("event_type").isin(
        "click", "purchase", "error", "signup", "view"
    ),
    "events.user_not_null": lambda: F.col("user_id").isNull(),
    "events.value_not_null": lambda: F.col("value").isNull(),
}


@register(
    "stream_quality_gate",
    """
WITH checks AS (
  SELECT 'events.type_domain' AS check_name,
         CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(SUM(CASE WHEN event_type IN ('click','purchase','error','signup','view')
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
  FROM events
  UNION ALL
  SELECT 'events.user_not_null', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events.value_not_null', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
)
SELECT check_name, n_checked, n_violations, CAST(1 AS BIGINT) AS n_batches
FROM checks ORDER BY check_name
""",
    "streaming", "quality", "foreachBatch", "gate",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-batch quality gate (streaming.jobs.
    run_streaming_quality_gate): each events micro-batch splits into
    accepted / quarantined(+reasons) parquet plus a per-batch audit
    table, all idempotent under _batch_id partitions.  Returned frame =
    the audit read back and folded across batches; since the gate's
    audit rows ARE operators.quality.column_audit's output, the batch
    SQL audit is an exact oracle (the fixture drains as one batch —
    n_batches proves the partition plumbing).  Corrupt-batch quarantine
    behavior and replay idempotence are pinned in pytest with an
    injected second batch."""
    work = SJ.workdir("stream_quality_gate", sf_dir)
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    stream = SJ.read_events_stream(spark, sf_dir)
    SJ.run_streaming_quality_gate(
        stream,
        {name: mk() for name, mk in EVENT_GATE_CHECKS.items()},
        out,
        ckpt,
    )
    audit = spark.read.parquet(f"{out}/audit")
    return (
        audit.groupBy("check_name")
        .agg(
            F.sum("n_checked").cast("bigint").alias("n_checked"),
            F.sum("n_violations").cast("bigint").alias("n_violations"),
            F.count_distinct("_batch_id").cast("bigint").alias("n_batches"),
        )
        .orderBy("check_name")
    )

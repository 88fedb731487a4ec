#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the engine's headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>}

Each query is forced to full materialization with the noop sink (measures
compute + shuffle, not driver collect).

Before timing starts, every headline and extended plan runs once at
sf0.001 (about 1% of the data cost). Codegen classes are cached by generated
source, which depends on plan structure and not on the input path, so the
timed runs measure IO, shuffle and compute, not compiler start-up. The JSON
records the warm-up actually used in ``warmup`` and ``warmup_mode``.

``value`` is ONE timed run per headline query, summed. Single runs swing
with GC and host load, so the JSON also carries ``value_median3`` /
``queries_median3``, the per-query median of 3 runs in the same session
(the noise-robust estimate of plan cost), and ``first_run_over_median3``.
``extended`` holds one timed run of each EXTENDED query; it is not part of
``value``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from ecommerce_etl_pipeline_spark.plans import all_queries  # noqa: E402

#: Headline set: one representative per operator family (scan+agg, big-key
#: rollup, date-filtered two-key agg, fact-fact join, self-join pair mining,
#: window sessionization, HOF nested agg, dedup exact + near-dup, text
#: quality, embedding top-k).
HEADLINE = [
    "a1_daily_sales",
    "a4_customer_ltv",
    "a8_pricing_summary",
    "a10_product_rollup",
    "j1_order_lineitem_join",
    "j4_pair_names_lookup",
    "j9_asof_join",
    "w4_sessionize",
    "w7_moving_avg_7d",
    "n2_hof_array_aggregate",
    "dd_exact_dedup",
    "dd_minhash_pairs",
    "txt_quality_scores",
    "sim_cosine_topk",
    "dd_curation_pipeline",
]

#: Flagship operators, timed separately so the HEADLINE metric keeps its
#: query set (one timed run each, reported under "extended": informational,
#: not part of headline_total). The pl_pw_face_* diagnostics are slices of
#: the product DAG timed here, so they are not timed again.
EXTENDED = [
    "dd_span_excision",
    "dd_semantic_dedup",
    "sim_rp_rerank",
    "txt_chunk_overlap",
    "u5_cdc_merge",
    "dd_bloom_decontam",
    "sm9_importance_resample",
    "g1_pagerank_copurchase",
    "ml_kmeans_train",
    "dd_simhash_pairs",
    "dd_ppjoin_pairs",  # prefix-filter exact join (Zipf scale path)
    "ml_logreg_train",  # quality-classifier trainer (12 GD rounds)
    "ml_logreg_holdout",  # held-out eval (train 80%, score unseen 20%)
    "dd_jaccard_df_capped",  # linear-fan-out capped exact jaccard
    "dd_curation_ppjoin",  # end-to-end ppjoin curation pipeline
    "ml_logreg_train_d64",  # production-width hashed-unigram trainer
    "sim_ivf_topk",  # portable-quantizer IVF (oracle-backed index build)
    "dd_curation_classifier",  # train->apply classifier-gated curation
    "dd_curation_classifier_ppjoin",  # the 100 TB composition (trained
    # gate + prefix-filter candidates)
    "txt_bm25_topk",  # shuffle-free lexical retrieval (sparse face)
    "sim_mmr_diversify",  # MMR diversified re-rank over a bounded pool
    "pl_sales_warehouse",  # the reference's sales DAG end-to-end
    # (four warehouse tables off one shared scan)
    "dq_benford_deviation",  # Benford first-digit DQ conformance
    "pl_customer_warehouse",  # the customer DAG end-to-end (fused
    # grouping-sets venue: one orders scan + one customer scan)
    "sim_pq_rerank",  # PQ ADC beam + exact re-rank (Arrow encode kernel)
    "sim_ivfpq_rerank",  # the FAISS-shaped IVF+PQ composition
    "pl_product_warehouse",  # the product DAG end-to-end (5 tables;
    # grouping-sets fusion + HOF pairs, no lineitem self-join)
    "pl_pricing_warehouse",  # the pricing DAG end-to-end (single
    # pass, both faces exploded per part row)
    "dd_cluster_safe_split",  # leakage-safe splitting (near-dup
    # clusters hash as a unit; singletons = dd_hash_split exactly)
    "sim_pq_adc_topk",  # oracle-backed PQ ADC leg (seeds-only codebooks,
    # the PQ encode kernel)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Warmup before timing starts: run every headline and extended plan once
    # at sf0.001. Whole-stage codegen classes are keyed by generated SOURCE,
    # which depends on plan structure, not the input path, so this
    # pre-compiles the same janino classes and JITs the same JVM operator
    # paths the timed queries use, for ~1% of the data cost. Then a1 once
    # at the target SF to warm its parquet footers. Timed runs below still
    # pay their own IO, shuffles and compute at the target SF.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE + EXTENDED:
        if name not in queries:  # same tolerance as the timed EXTENDED loop
            continue
        queries[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        # extended queries may persist() caches keyed to warm_dir inputs;
        # clear per-plan so nothing donated to the timed runs
        spark.catalog.clearCache()
    # Warm the target-SF inputs themselves (full column scan to the noop
    # sink — count() would be satisfied from footer stats and read no
    # data): first runs of identical code otherwise vary with the
    # page-cache state of these files, and the bench measures compute +
    # shuffle, not disk-cache luck. Applies equally to every timed query.
    for t in ("orders", "lineitem", "part", "customer", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format("noop").mode(
            "overwrite"
        ).save()
    queries["a1_daily_sales"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # provenance string reflects the warm_dir ACTUALLY used — on a host
    # without sf0.001 the fallback warms at the target SF, which makes the
    # timed first runs cache-warm and must not be mistaken for a cold-
    # first-run protocol
    warmup_desc = (
        f"headline+extended@{os.path.basename(warm_dir.rstrip('/'))} "
        "+ table scans + a1 @sf (pre-compiles codegen/JIT and warms input "
        "page cache; r1-r3 warmed a1 only, r4 warmed headline only — the "
        "extended singles paid their own first-compile there)"
    )
    # machine-readable protocol marker: on a host without
    # sf0.001 the fallback warms every headline plan at the TARGET SF, so
    # timed first runs are fully result/page-cache warm — a different
    # protocol that tooling must be able to detect without parsing prose
    warmup_mode = "sf0.001" if warm_dir != sf_dir else "target-sf-fallback"

    runs: list[dict[str, float]] = []
    for rep in range(3):
        times: dict[str, float] = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name] = round(time.perf_counter() - t0, 3)
            # reps 1-2 isolate queries (a cache an operator persisted —
            # operators/caches.py — must not donate warm blocks to the
            # queries timed after it). Rep 0 does NOT clear between
            # queries: `value` keeps the one protocol all its records
            # share.
            if rep > 0:
                spark.catalog.clearCache()
        spark.catalog.clearCache()
        runs.append(times)

    median3 = {
        name: round(sorted(r[name] for r in runs)[1], 3) for name in HEADLINE
    }

    extended: dict[str, float] = {}
    for name in EXTENDED:
        if name not in queries:
            continue
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        extended[name] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
    payload = json.dumps(
            {
                "metric": "headline_total",
                # the FIRST run of each query, the protocol of every record
                "value": round(sum(runs[0].values()), 3),
                "unit": "sec",
                "queries": runs[0],
                "value_median3": round(sum(median3.values()), 3),
                "queries_median3": median3,
                # the first-run/med3 ratio, machine-visible per run so
                # first-rep warmup drift cannot hide a real constant-factor
                # regression (SCALING.md carries the trend table)
                "first_run_over_median3": round(
                    sum(runs[0].values()) / max(sum(median3.values()), 1e-9), 3
                ),
                "extended": extended,
                "warmup": warmup_desc,
                "warmup_mode": warmup_mode,
                "sf": sf,
            }
    )
    # The one-line JSON is several KB and grows with the extended tier; a
    # caller that keeps only a bounded tail of stdout can truncate it.
    # Mirror the line to a file next to this script so it survives that;
    # stdout contract unchanged (same single JSON line, printed last).
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
            "w",
        ) as fh:
            fh.write(payload + "\n")
    except OSError:
        pass  # read-only checkout: stdout still carries the line
    print(payload)


if __name__ == "__main__":
    main()

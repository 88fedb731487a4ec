#!/usr/bin/env python
"""Per-query shuffle/scan cost attribution -> COSTS.md.

Runs the bench headline + extended queries once at $SPARK_GRAFT_SF_DIR
(default sf0.1) and records, from Spark's monitoring REST API, the
measured shuffle read/write bytes, input bytes, and executor time each
query's stages incurred (operators/introspect.py). These are the
numbers SCALING.md argues about — a query whose shuffle bytes exceed
its input bytes is re-shuffling the corpus; one whose shuffle is
duplicate-density-sized confirms the banded-candidate claim.

Usage: python scripts/cost_report.py [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecommerce_etl_pipeline_spark.operators import caches  # noqa: E402
from ecommerce_etl_pipeline_spark.operators.introspect import stage_cost_report  # noqa: E402
from ecommerce_etl_pipeline_spark.plans import all_queries  # noqa: E402
from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402

QUERIES = [
    "a1_daily_sales", "a4_customer_ltv", "a8_pricing_summary", "a10_product_rollup",
    "j1_order_lineitem_join", "j4_pair_names_lookup", "j9_asof_join",
    "w4_sessionize", "w7_moving_avg_7d", "n2_hof_array_aggregate",
    "dd_exact_dedup", "dd_minhash_pairs", "txt_quality_scores", "sim_cosine_topk",
    "dd_curation_pipeline", "dd_curation_minhash", "dd_simhash_pairs",
    "dd_bloom_decontam", "dd_span_excision", "dd_semantic_dedup",
    "g1_pagerank_copurchase", "ml_kmeans_train", "txt_bpe_merges",
    "dd_ppjoin_pairs", "dd_jaccard_df_capped", "ml_logreg_train",
    "ml_logreg_holdout", "dd_curation_ppjoin",
]


def fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024:
            return f"{n:.0f}{unit}" if unit == "B" else f"{n:.1f}{unit}"
        n /= 1024
    return f"{n:.1f}TB"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_md = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COSTS.md"
    )
    spark = get_spark(app_name="cost_report")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    rows = []
    for name in QUERIES:
        if name not in queries:
            continue

        def run(name=name):
            out = queries[name](spark, sf_dir)
            out.write.format("noop").mode("overwrite").save()

        with caches.scope():
            m = stage_cost_report(spark, run)
        rows.append((name, m))
        print(name, m)

    with open(out_md, "w") as f:
        f.write(
            "# COSTS — measured per-query stage costs "
            f"(sf_dir={sf_dir}, Spark monitoring API)\n\n"
            "One run per query in a shared session (first-listed pay cache/codegen\n"
            "warmup in executor time; byte counters are exact regardless). Shuffle\n"
            "bytes >> input bytes flags a query re-shuffling its input; near-zero\n"
            "shuffle confirms scan-side/narrow claims. Regenerate:\n"
            "`python scripts/cost_report.py`.\n\n"
            "| query | input | shuffle write | shuffle read | shuffle rows w | "
            "tasks | stages | exec time |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for name, m in rows:
            f.write(
                f"| {name} | {fmt_bytes(m['input_bytes'])} "
                f"| {fmt_bytes(m['shuffle_write_bytes'])} "
                f"| {fmt_bytes(m['shuffle_read_bytes'])} "
                f"| {m['shuffle_write_records']} "
                f"| {m['num_tasks']} | {m['num_stages']} "
                f"| {m['executor_run_time_ms'] / 1000:.1f}s |\n"
            )
    # machine-readable twin for scripts/check_costs.py's round-over-round
    # shuffle-bytes gate (byte counters are run-invariant; exec time isn't)
    import json

    out_json = os.path.splitext(out_md)[0] + ".json"
    with open(out_json, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": dict(rows)}, f, indent=1)
    print("wrote", out_md, "and", out_json)


if __name__ == "__main__":
    main()

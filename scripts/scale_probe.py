#!/usr/bin/env python
"""Empirical scaling probe: replicate the sf0.1 corpus/facts 10x (id
offsets + token perturbation so duplicate density stays realistic, not
10x'd) and time the scale-critical operators at 1x vs 10x on local[32].

What good looks like: dedup growth well under 10x (wide stages track
duplicate density, not corpus size), fact-join growth ~linear in rows.
This is the committed form of the round-2 ad-hoc measurement behind
SCALING.md "Measured scale behavior"; re-run after any join-shape change.

Usage: python scripts/scale_probe.py [replication]
"""

from __future__ import annotations

import os
import sys
import time

# must be set BEFORE the JVM launches: the 10x self-joins need real heap
# (local-mode default is 1g and builder-time driver-memory confs arrive
# too late to size the already-running JVM)
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 16g pyspark-shell")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, DataFrame, functions as F  # noqa: E402

from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from ecommerce_etl_pipeline_spark.sources.io import load_table  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def resalt_text(col: Column, i: int) -> Column:
    """Copy-``i`` marker resalt: inject a copy-specific token every 4
    tokens, rewriting the shingle set so replicas are NOT near-dups of
    each other. THE single definition of the replicate-with-resalt
    cadence — shared with scripts/make_sf1.py so the in-memory scale
    probe and the committed sf1 directory can never drift apart in
    duplicate-density shape."""
    return F.regexp_replace(col, r"((\S+\s+){4})", f"$1u{i} ")


def replicate_docs(docs: DataFrame, copies: int) -> DataFrame:
    """Union `copies` shifted copies. Every non-first copy gets a marker
    token injected every 4 tokens, which rewrites its shingle set — so
    copies are NOT near-duplicates of each other and true-pair density
    grows ~linearly with the corpus (the realistic web-corpus shape)
    instead of every document becoming a `copies`-member duplicate family
    (which would inflate true pairs ~copies² and measure output growth,
    not scaling)."""
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = [docs.select("doc_id", "text")]
    for i in range(1, copies):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                resalt_text(F.col("text"), i).alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate_facts(
    df: DataFrame, key_cols: list[str], copies: int, offset: int
) -> DataFrame:
    """Shift join keys by a SHARED per-copy offset. The offset must be the
    same across every table sharing the key domain (orders+lineitem on
    orderkey) — independent per-table maxima would misalign every replica's
    keys and the joined measurement would silently join almost nothing."""
    parts = [df]
    for i in range(1, copies):
        shifted = df
        for c in key_cols:
            shifted = shifted.withColumn(c, F.col(c) + F.lit(i * offset))
        parts.append(shifted)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def timed(label: str, thunk) -> float:
    """Times plan BUILD + execution: curate() launches an eager job
    (component resolution) during the build, which a build-then-time
    harness would silently exclude."""
    t0 = time.perf_counter()
    thunk().write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"  {label}: {dt:.2f}s", flush=True)
    return dt


def join_strategies(df: DataFrame) -> list[str]:
    """Join operators in the static physical plan, in tree order."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)",
        plan,
    )


def report_plan_flip(label: str, big_fn) -> None:
    """Evidence for the unhinted-join doctrine (SCALING.md 'Join strategy
    on scaling sides'): with NO hints anywhere, join strategy must respond
    to (build-side size estimate vs autoBroadcastJoinThreshold) alone.
    The replicated frame's build sides still genuinely fit the local
    64 MiB session threshold (pruned columns + columnar cache compress
    hard), so the correct reading is the THRESHOLD LADDER below: as the
    bar drops — simulating the same absolute sides on ever-bigger data,
    since estimates are scan-proportional — every broadcast flips to a
    shuffle join with zero code change. -1 is the end state every join
    reaches once the corpus truly outgrows memory (and what the
    forced-broadcast audit plans under)."""
    from collections import Counter

    spark = get_spark()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    rungs = [("64MiB", str(64 * 1024 * 1024)), ("10MB", str(10 * 1024 * 1024)),
             ("1MB", str(1024 * 1024)), ("100KB", str(100 * 1024)), ("-1", "-1")]
    parts = []
    try:
        for name, v in rungs:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
            parts.append(f"@{name}={dict(Counter(join_strategies(big_fn())))}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    print(f"  plan-flip {label} (replicated frame): " + "  ".join(parts), flush=True)


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    from ecommerce_etl_pipeline_spark.llmops import curation, dedup
    from ecommerce_etl_pipeline_spark.llmops.text import chunk_structs as _chunk

    docs1 = load_table(spark, SF, "documents").select("doc_id", "text")
    docs10 = replicate_docs(docs1, copies)
    li1 = load_table(spark, SF, "lineitem")
    or1 = load_table(spark, SF, "orders")
    # orders holds the full orderkey domain (lineitem references it), so its
    # max bounds both tables' keys
    key_span = or1.agg(F.max("o_orderkey")).collect()[0][0] + 1
    li10 = replicate_facts(li1, ["l_orderkey"], copies, key_span)
    or10 = replicate_facts(or1, ["o_orderkey"], copies, key_span)

    # materialize the replicated inputs to parquet so probe timings measure
    # the operator, not the union fan-in
    base = "/tmp/scale_probe"
    docs10.write.mode("overwrite").parquet(f"{base}/documents.parquet")
    li10.write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
    or10.write.mode("overwrite").parquet(f"{base}/orders.parquet")
    docs10 = spark.read.parquet(f"{base}/documents.parquet")
    li10 = spark.read.parquet(f"{base}/lineitem.parquet")
    or10 = spark.read.parquet(f"{base}/orders.parquet")

    def fact_join(li: DataFrame, orders: DataFrame) -> DataFrame:
        # unhinted, like j1: the strategy must come from size statistics
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        )

    probes = {
        "jaccard_pairs": lambda d: dedup.jaccard_similarity_join(d, threshold=0.5),
        "minhash_pairs": lambda d: dedup.minhash_candidate_pairs(d),
        # round-4: the md5-portable hash variant is now the REGISTERED
        # query's form (oracle-checkability) — probe it separately so the
        # growth table reflects both the scale default and the shipped path
        "minhash_portable": lambda d: dedup.minhash_candidate_pairs(
            d, portable=True
        ),
        "curation_minhash": lambda d: curation.curate(d),
        # round-3 additions: window-shuffle (span) and narrow-explode (chunk)
        # shapes — expected ~linear growth
        "span_excision": lambda d: dedup.duplicate_span_stats(d),
        "chunk_overlap": lambda d: d.select(
            "doc_id", F.explode(_chunk(F.col("text"))).alias("c")
        ).select("doc_id", "c.*"),
        # late round-3: bitmap-probe scan (eval side FIXED at 50 docs, so
        # growth isolates the train-side scan+probe — expected ~linear)
        # and the sources^2-bounded inverted-index self-join
        "bloom_decontam": lambda d: dedup.bloom_decontaminate(
            d, docs1.filter(F.col("doc_id") < 50)
        ),
        "source_overlap": lambda d: dedup.source_overlap_matrix(
            d.withColumn(
                "source", F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string"))
            )
        ),
    }
    results: dict[str, tuple[float, float]] = {}
    for name, fn in probes.items():
        print(f"== {name}")
        t1 = timed("1x", lambda: fn(docs1))
        spark.catalog.clearCache()
        t10 = timed(f"{copies}x", lambda: fn(docs10))
        spark.catalog.clearCache()
        results[name] = (t1, t10)
        # curate/bloom_decontam launch eager jobs (component resolution /
        # bitmap build) at plan-build time, so the flip report would hang
        # re-planning them per threshold rung
        if name not in ("curation_minhash", "bloom_decontam"):
            report_plan_flip(name, lambda: fn(docs10))
            spark.catalog.clearCache()
    print("== fact_join (j1 shape)")
    t1 = timed("1x", lambda: fact_join(li1, or1))
    t10 = timed(f"{copies}x", lambda: fact_join(li10, or10))
    results["fact_join"] = (t1, t10)
    report_plan_flip("fact_join", lambda: fact_join(li10, or10))

    print(f"\n{'probe':20s} {'1x':>7s} {copies:>5d}x  growth")
    for name, (a, b) in results.items():
        print(f"{name:20s} {a:7.2f} {b:6.2f}  {b / a:.1f}x")


if __name__ == "__main__":
    main()

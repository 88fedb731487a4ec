"""Composite pipelines: every output table materializes with sane row
counts, and cross-table invariants hold."""

from __future__ import annotations

from ecommerce_etl_pipeline_spark.pipelines import (
    customer_pipeline,
    pricing_pipeline,
    product_pipeline,
    sales_pipeline,
)
from ecommerce_etl_pipeline_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def test_sales_pipeline(spark):
    out = sales_pipeline(spark, SF)
    n_orders = load_table(spark, SF, "orders").count()
    assert out["fact_daily_sales"].count() > 0
    assert out["fact_order_size"].count() == 4  # quartile bands
    total = sum(r.num_orders for r in out["fact_priority_sales"].collect())
    assert total == n_orders


def test_customer_segment_null_tenure(spark, tmp_path):
    """A customer with NO orders gets a NULL segment, not 'VIP' (ADVICE
    r12 #2: pandas.cut maps NaN to NaN; the unguarded fixed_bins
    else-branch mislabeled NULL tenure as the highest band). The
    driver corpus has no order-less customers, so the case is
    constructed: copy the sf0.001 tables and add one customer whose key
    matches no order."""
    import shutil

    src = SF
    dst = str(tmp_path / "sf_nullcase")
    shutil.copytree(src, dst)
    cust = load_table(spark, src, "customer")
    extra = spark.createDataFrame(
        [(999999999, "no-orders", 0, 0.0, "BUILDING")], cust.schema
    )
    cust.unionByName(extra).write.mode("overwrite").parquet(
        f"{dst}/customer.parquet"
    )
    out = customer_pipeline(spark, dst)
    row = out["dim_customer"].filter("c_custkey = 999999999").collect()
    assert len(row) == 1
    assert row[0]["tenure_days"] is None
    assert row[0]["segment"] is None, "NULL tenure must not fall into 'VIP'"
    # the registered fused venue agrees
    from ecommerce_etl_pipeline_spark.plans.pipelines_queries import (
        pl_customer_warehouse,
    )

    w = (
        pl_customer_warehouse(spark, dst)
        .filter("warehouse_table = 'dim_customer' AND entity_key = '999999999'")
        .collect()
    )
    assert len(w) == 1
    assert w[0]["n1"] is None and w[0]["label1"] is None


def test_customer_pipeline(spark):
    out = customer_pipeline(spark, SF)
    n_cust = load_table(spark, SF, "customer").count()
    assert out["dim_customer"].count() == n_cust
    segs = {r.segment for r in out["dim_customer"].select("segment").distinct().collect()}
    assert segs <= {"New", "Regular", "Loyal", "VIP", None}
    assert out["fact_location_stats"].count() > 0
    assert out["fact_customer_behavior"].count() > 0


def test_product_pipeline(spark):
    out = product_pipeline(spark, SF)
    n_part = load_table(spark, SF, "part").count()
    assert out["fact_product_sales"].count() == n_part
    assert out["fact_top_products"].count() == min(100, n_part)
    assert out["fact_product_pairs"].filter("product1 >= product2").count() == 0


def test_pricing_pipeline(spark):
    out = pricing_pipeline(spark, SF)
    pos = {r.market_position for r in out["fact_market_position"].collect()}
    assert pos <= {"Above Market", "Below Market", "At Market"}
    assert out["fact_competitor_stats"].count() > 0


def test_curate_cache_contract_releases_everything(spark, distributed_venue):
    """One cache owner (operators/caches.py): the frames curate(),
    connected components and winnow_overlap_pairs persist join the
    caller's scope, the ones their results read stay cached until it
    exits, and the exit adds ZERO persistent RDDs beyond the baseline —
    the storage-tab hygiene a 50-query shared session depends on. The
    assertion is DELTA-based because earlier tests legitimately pin
    bounded localCheckpoint blocks (bpe_train / pagerank lineage cuts)
    that no scope owns."""
    from ecommerce_etl_pipeline_spark.llmops import curation
    from ecommerce_etl_pipeline_spark.llmops.clustering import connected_components
    from ecommerce_etl_pipeline_spark.llmops.dedup import winnow_overlap_pairs
    from ecommerce_etl_pipeline_spark.operators import caches

    spark.catalog.clearCache()
    sc = spark.sparkContext

    def _pinned() -> set:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    def in_scope(run):
        """``run()`` inside a scope: its result and the frames still cached
        when the scope exits, after checking the exit releases them all."""
        baseline = _pinned()
        with caches.scope() as owned:
            out = run()
            kept = [f for f in owned if f.is_cached]
        assert _pinned() - baseline == set()
        return out, kept

    # each curate path keeps the exact-dedup intermediate, plus the PPJoin
    # ordered shingle arrays or the MinHash banded rows
    docs = load_table(spark, SF, "documents")
    for kwargs, cand_cache in (
        ({"use_minhash": False}, []),
        ({"use_minhash": False, "use_ppjoin": True}, [["doc_id", "arr", "n"]]),
        ({"use_minhash": True}, [["doc_id", "band", "band_hash"]]),
    ):
        n, kept = in_scope(lambda: curation.curate(docs, **kwargs).count())
        assert n > 0
        assert [f.columns for f in kept] == [["doc_id", "text"]] + cand_cache, kwargs

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc1 LONG, doc2 LONG"
    )

    def components():
        comp = connected_components(pairs)
        got = {(r.node, r.component) for r in comp.collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
        return comp

    # distributed CC (forced) keeps exactly the labels it returns
    with distributed_venue():
        comp, kept = in_scope(components)
    assert len(kept) == 1 and kept[0] is comp
    # the small-graph driver venue keeps nothing
    _, kept = in_scope(components)
    assert kept == []

    # winnow_overlap_pairs keeps its two load-bearing caches
    _, kept = in_scope(lambda: winnow_overlap_pairs(docs.limit(50)).count())
    assert [f.columns for f in kept] == [["doc_id", "fps"], ["doc_id", "n_fps", "fp"]]


def test_fused_lang_gate_matches_predicted_lang_all_langs(spark):
    """The fused single-fold gate must equal the compositional
    ``predicted_lang(t) == lang AND token_count >= min`` for every lang
    INCLUDING the round-8 'unknown' branch (no stopword language wins —
    the Zipf-fixture shape check_zipf's curate pin relies on)."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.llmops import text
    from ecommerce_etl_pipeline_spark.llmops.curation import (
        _lang_and_length_gate,
        predicted_lang,
    )

    texts = [
        "the quick brown fox and the lazy dog of the north in a field",
        "el rio la casa de que y en los montes claros para todos aqui",
        "der und die das ein nicht mit sich auf auch fuer von heute",
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",   # no stopwords
        "the el der und a la",                      # cross-lang tie soup
        "short",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    t = F.col("text")
    for lang in ("en", "es", "de", "unknown"):
        fused = {
            r["doc_id"]
            for r in docs.filter(_lang_and_length_gate(t, lang, 5)).collect()
        }
        composed = {
            r["doc_id"]
            for r in docs.filter(
                (predicted_lang(t) == lang) & (text.token_count(t) >= 5)
            ).collect()
        }
        assert fused == composed, f"lang={lang}: {fused} != {composed}"


def test_curate_classifier_gate_matches_standalone_scorer(spark):
    """The trained-classifier quality stage (curate(classifier_weights=w),
    VERDICT r8 #6) must keep EXACTLY the documents the standalone scorer
    predicts positive: both sides evaluate classifier.hashed_score_expr —
    the integer-nano per-token fold — so the pin is bit-exact by
    construction, and a drift in either site (gate predicate vs
    score_with_weights projection) breaks set equality. The replay runs
    the SAME curate() pipeline on a pre-filtered corpus (punct gate
    disabled via an infinite threshold) so every downstream stage —
    exact dedup, jaccard pairs, components — is exercised identically."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.llmops import classifier, curation

    docs = load_table(spark, SF, "documents")
    w, _ = classifier.train_linear_scorer(docs, iterations=3, features="hashed")

    gated = curation.curate(docs, use_minhash=False, classifier_weights=w)
    got = {r["doc_id"] for r in gated.collect()}

    pre = (
        classifier.score_with_weights(docs, w, features="hashed")
        .filter(F.col("predicted") == 1)
        .select("doc_id", "text")
    )
    replay = curation.curate(pre, use_minhash=False, max_punct_ratio=float("inf"))
    want = {r["doc_id"] for r in replay.collect()}

    assert got, "classifier gate kept zero documents — degenerate fixture"
    assert got == want


def test_sales_warehouse_fused_matches_union_form(spark):
    """The REGISTERED pl_sales_warehouse venue (the single-scan GROUPING
    SETS fusion, r12 flip per the r11 VERDICT brief #2) is row-for-row
    identical to the four-branch union face built on the ACTUAL §3
    pipeline code (sales_warehouse_union) — so the driver cert covers the
    pipeline code path too, and the certified plan is the one you would
    run at 100 TB."""
    from ecommerce_etl_pipeline_spark.plans.pipelines_queries import (
        pl_sales_warehouse,
        sales_warehouse_union,
    )

    def canon(df):
        return sorted(
            (r["warehouse_table"], r["entity_key"], r["n_orders"],
             r["amount"], r["lifetime_days"])
            for r in df.collect()
        )

    union_rows = canon(sales_warehouse_union(spark, SF))
    fused_rows = canon(pl_sales_warehouse(spark, SF))
    assert len(union_rows) > 0
    assert union_rows == fused_rows
    # the REGISTERED plan really is single-scan: exactly one orders file
    # scan and one Expand
    plan = pl_sales_warehouse(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("orders.parquet") == 1
    assert "Expand" in plan


def test_customer_warehouse_fused_matches_union_form(spark):
    """The REGISTERED pl_customer_warehouse venue (one orders scan + one
    customer scan + broadcast nation, 2-set GROUPING SETS, post-agg face
    explosion) is row-for-row identical to the three-branch union face
    built on the ACTUAL §3 pipeline code (customer_warehouse_union) — so
    the driver cert covers pipelines/reference.py::customer_pipeline too,
    and the certified plan is the one you would run at 100 TB."""
    from ecommerce_etl_pipeline_spark.plans.pipelines_queries import (
        customer_warehouse_union,
        pl_customer_warehouse,
    )

    def canon(df):
        return sorted(
            (r["warehouse_table"], r["entity_key"], r["n1"], r["n2"],
             r["amount"], r["label1"], r["label2"])
            for r in df.collect()
        )

    union_rows = canon(customer_warehouse_union(spark, SF))
    fused_rows = canon(pl_customer_warehouse(spark, SF))
    assert len(union_rows) > 0
    assert union_rows == fused_rows
    # the REGISTERED plan really is single-scan per input: one orders
    # scan, one customer scan, and an Expand for the grouping sets
    plan = (
        pl_customer_warehouse(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("orders.parquet") == 1
    assert plan.count("customer.parquet") == 1
    assert "Expand" in plan


def test_product_warehouse_fused_matches_union_form(spark):
    """The REGISTERED pl_product_warehouse venue (one base computed once
    through a 3-set GROUPING SETS + TakeOrdered top-100 branch +
    single-scan HOF pairs — no lineitem self-join) is row-for-row
    identical to the five-branch union face built on the ACTUAL §3
    pipeline code (product_warehouse_union)."""
    from ecommerce_etl_pipeline_spark.plans.pipelines_queries import (
        pl_product_warehouse,
        product_warehouse_union,
    )

    def canon(df):
        return sorted(
            (r["warehouse_table"], r["entity_key"], r["n1"], r["n2"],
             r["amount"], r["label1"], r["label2"])
            for r in df.collect()
        )

    union_df = product_warehouse_union(spark, SF)
    fused_df = pl_product_warehouse(spark, SF)
    union_rows = canon(union_df)
    fused_rows = canon(fused_df)
    assert len(union_rows) > 0
    assert union_rows == fused_rows
    # Plan gates (ADVICE r12 #3 hardened these from a first-SMJ substring
    # peek to strategy-independent structural counts; ADVICE r13 #5 moved
    # them off the executed-plan STRING — substring counts break when a
    # Spark version reformats the dump — onto a node-name walk of the
    # optimized logical plan):
    # - single derivation: the part-grain base is materialized once and
    #   BOTH the grouping-sets fan and the top-100 branch read the cache
    #   (two InMemoryRelation use sites after cache substitution)
    # - exactly one Expand (one fused fan, never a duplicated rollup)
    # - the pairs face never joins lineitem to itself: NO Join node of
    #   ANY strategy may carry l_orderkey in its condition (the basket
    #   build is a groupBy, not a join)
    probe = pl_product_warehouse(spark, SF)

    def _walk(node):
        yield node
        ch = node.children()
        for i in range(ch.length()):
            yield from _walk(ch.apply(i))

    nodes = list(_walk(probe._jdf.queryExecution().optimizedPlan()))
    names = [n.nodeName() for n in nodes]
    assert names.count("InMemoryRelation") == 2, names
    assert names.count("Expand") == 1, names
    offenders = [
        n.simpleString(25)
        for n in nodes
        if "Join" in n.nodeName() and "l_orderkey" in n.simpleString(25)
    ]
    assert not offenders, (
        f"pairs face regressed to a lineitem self-join: {offenders}"
    )


def test_pricing_warehouse_fused_matches_union_form(spark):
    """The REGISTERED pl_pricing_warehouse venue (one lineitem rollup +
    one part join, both faces exploded per row — no table scanned twice)
    is row-for-row identical to the union face built on the ACTUAL §3
    pipeline code (pricing_warehouse_union)."""
    from ecommerce_etl_pipeline_spark.plans.pipelines_queries import (
        pl_pricing_warehouse,
        pricing_warehouse_union,
    )

    def canon(df):
        return sorted(
            (r["warehouse_table"], r["entity_key"], r["v1"], r["v2"],
             r["v3"], r["v4"], r["label"])
            for r in df.collect()
        )

    union_rows = canon(pricing_warehouse_union(spark, SF))
    fused_rows = canon(pl_pricing_warehouse(spark, SF))
    assert len(union_rows) > 0
    assert union_rows == fused_rows
    plan = (
        pl_pricing_warehouse(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("part.parquet") == 1

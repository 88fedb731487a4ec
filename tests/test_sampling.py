"""Sampling determinism and RI invariants (SM1-SM4)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ecommerce_etl_pipeline_spark.operators.sampling import (
    portable_ri_cascade,
    portable_sample,
    portable_sample_exact,
)
from ecommerce_etl_pipeline_spark.sources.generator import (
    generate_clicks,
    generate_transactions,
)
from ecommerce_etl_pipeline_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def test_seeded_sample_deterministic(spark):
    orders = load_table(spark, SF, "orders")
    a = {r.o_orderkey for r in portable_sample(orders, 0.1, "o_orderkey").collect()}
    b = {r.o_orderkey for r in portable_sample(orders, 0.1, "o_orderkey").collect()}
    assert a == b and 0 < len(a) < orders.count()


def test_exact_n_sample(spark):
    orders = load_table(spark, SF, "orders")
    s = portable_sample_exact(orders, 100, "o_orderkey")
    assert s.count() == 100
    again = portable_sample_exact(orders, 100, "o_orderkey")
    assert {r.o_orderkey for r in s.collect()} == {r.o_orderkey for r in again.collect()}


def test_ri_cascade_integrity(spark):
    customer = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    sc, so, sl = portable_ri_cascade(
        customer,
        "c_custkey",
        [(orders, "o_custkey", "c_custkey"), (li, "l_orderkey", "o_orderkey")],
        fraction=0.2,
    )
    # every sampled order's customer is in the sampled customer set
    cust_keys = {r.c_custkey for r in sc.select("c_custkey").collect()}
    assert {r.o_custkey for r in so.select("o_custkey").collect()} <= cust_keys
    order_keys = {r.o_orderkey for r in so.select("o_orderkey").collect()}
    assert {r.l_orderkey for r in sl.select("l_orderkey").distinct().collect()} <= order_keys


def test_generator_shapes(spark):
    clicks = generate_clicks(spark, 500)
    assert clicks.count() == 500
    by_type = dict(
        clicks.groupBy("event_name").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert set(by_type) <= {"HOMEPAGE", "SEARCH", "ITEM_DETAIL", "ADD_TO_CART", "CHECKOUT"}
    # variant metadata: SEARCH rows carry search_keywords JSON, HOMEPAGE null
    search = clicks.filter("event_name = 'SEARCH'")
    assert search.filter(F.col("event_metadata").isNull()).count() == 0
    assert clicks.filter("event_name = 'HOMEPAGE'").filter(
        F.col("event_metadata").isNotNull()
    ).count() == 0

    txn = generate_transactions(spark, 300)
    assert txn.count() == 300
    items = F.from_json(
        "product_metadata",
        "array<struct<product_id:bigint,quantity:int,item_price:bigint>>",
    )
    parsed = txn.select(F.size(items).alias("n"), items.alias("it"))
    assert parsed.filter("n < 1 OR n > 3").count() == 0
    bad_qty = parsed.select(F.explode("it").alias("x")).filter(
        "x.quantity < 1 OR x.quantity > 3 OR x.item_price < 50000 OR x.item_price >= 500000"
    )
    assert bad_qty.count() == 0


def test_weighted_sample_biases_toward_heavy_rows(spark, sf_dir):
    """Efraimidis-Spirakis property: inclusion probability tracks weight.
    Across 10 independent draws (re-salts), the mean token count of
    sampled docs must exceed the corpus mean (length-weighted), and each
    draw is exactly n rows, deterministic, and duplicate-free."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.llmops.text import token_count
    from ecommerce_etl_pipeline_spark.operators.sampling import weighted_sample_exact
    from ecommerce_etl_pipeline_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    corpus_mean = docs.agg(F.avg("n_tokens")).collect()[0][0]
    means = []
    for i in range(10):
        s = weighted_sample_exact(docs, 50, "doc_id", "n_tokens", salt=f"t:{i}")
        rows = s.collect()
        assert len(rows) == 50
        assert len({r.doc_id for r in rows}) == 50
        means.append(sum(r.n_tokens for r in rows) / 50)
    assert sum(means) / len(means) > corpus_mean, (sum(means) / 10, corpus_mean)
    # deterministic replay
    a = {r.doc_id for r in weighted_sample_exact(docs, 50, "doc_id", "n_tokens").collect()}
    b = {r.doc_id for r in weighted_sample_exact(docs, 50, "doc_id", "n_tokens").collect()}
    assert a == b


def test_weighted_sample_excludes_nonpositive_weights(spark):
    """E-S is undefined for w <= 0; such rows (and NULL weights) are
    excluded up front rather than ranked engine-dependently."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.operators.sampling import weighted_sample_exact

    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "id LONG, w DOUBLE",
    )
    got = {r.id for r in weighted_sample_exact(df, 10, "id", F.col("w")).collect()}
    assert got == {1, 5}

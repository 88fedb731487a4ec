"""Sampling & generation queries — SURVEY.md §2.10 (SM1-SM4).

sm1/sm2/sm3 draw with the md5-portable uniform of operators/sampling.py
(a seeded ``rand`` does not replay in DuckDB, SURVEY §7 risk 4), so each
draw replays in the oracle and the queries are fully hash-checked. Only
sm4 (uuid/rand generator ladders — the randomness IS the product) is
rows-only; determinism WITHIN Spark is covered by tests/test_sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.operators.sampling import (
    portable_ri_cascade,
    portable_sample,
    portable_sample_exact,
)
from ecommerce_etl_pipeline_spark.functions.exact_agg import sql_round
from ecommerce_etl_pipeline_spark.llmops import splits
from ecommerce_etl_pipeline_spark.plans.registry import register
from ecommerce_etl_pipeline_spark.sources.generator import generate_transactions
from ecommerce_etl_pipeline_spark.sources.io import load_table


@register(
    "sm1_seeded_sample",
    oracle=f"""
    SELECT * FROM orders
    WHERE {splits.sql_hash_uint32("o_orderkey", "sm1:v1")} / 4294967296.0 < 0.1
    """,
    doc="10% Bernoulli sample (SM1) — reference data_sampling.py:40-43, "
    "md5-PORTABLE draw: keep rows whose hash_uint32('sm1:v1' || o_orderkey) / 2^32 falls "
    "under the fraction, so the exact sample replays in DuckDB and the "
    "query is fully oracle-checked. Division by 2^32 is exact in a "
    "double, so the comparison is engine-identical. One narrow filter "
    "inside the scan — no shuffle, the right shape at any scale.",
)
def sm1_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return portable_sample(
        load_table(spark, sf_dir, "orders"), 0.1, "o_orderkey", salt="sm1:v1"
    )


@register(
    "sm2_exact_n_sample",
    oracle=f"""
    SELECT * FROM orders
    ORDER BY {splits.sql_hash_key("o_orderkey", "sm2:v1")}, o_orderkey
    LIMIT 100
    """,
    doc="Exact-n sample (SM1 exact variant, SURVEY §4 item 2), md5-PORTABLE "
    "order: rank by the "
    "hex digest of 'sm2:v1' || o_orderkey, tiebreak on the key, keep the "
    "first 100 — the draw replays in DuckDB. Better scale shape too: "
    "orderBy+limit plans as TakeOrderedAndProject (per-partition top-n) "
    "instead of the single-partition row_number window.",
)
def sm2_exact_n_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return portable_sample_exact(
        load_table(spark, sf_dir, "orders"), 100, "o_orderkey", salt="sm2:v1"
    )


@register(
    "sm3_ri_cascade_sample",
    oracle=f"""
    WITH sc AS (
        SELECT c_custkey FROM customer
        WHERE {splits.sql_hash_uint32("c_custkey", "sm3:v1")} / 4294967296.0 < 0.1
    ),
    so AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM sc)
    ),
    sl AS (
        SELECT l_orderkey FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM so)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS sampled_lineitems,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS sampled_orders
    FROM sl
    """,
    doc="Referential-integrity cascade sample (SM3) — reference "
    "data_sampling.py:144-151: sample customers -> semi-join orders -> "
    "semi-join lineitem, one lazy DAG, no driver key lists. The parent "
    "draw is the md5-portable uniform, so the ENTIRE cascade replays in DuckDB as "
    "filter + IN-subqueries and the result is fully oracle-checked.",
)
def sm3_ri_cascade_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sampled_cust, sampled_orders, sampled_li = portable_ri_cascade(
        customer,
        "c_custkey",
        [(orders, "o_custkey", "c_custkey"), (li, "l_orderkey", "o_orderkey")],
        fraction=0.1,
        salt="sm3:v1",
    )
    return sampled_li.agg(
        F.count(F.lit(1)).alias("sampled_lineitems"),
        F.countDistinct("l_orderkey").alias("sampled_orders"),
    )


@register(
    "sm4_generated_transactions",
    doc="Distributed synthetic-transaction generator (SM4/N5) — reference "
    "data_generator.py:52-81 as a spark.range program; parses its own JSON "
    "back (N1) to prove the round-trip. Rows-only.",
)
def sm4_generated_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    txn = generate_transactions(spark, 1000)
    items = F.from_json(
        "product_metadata",
        "array<struct<product_id:bigint,quantity:int,item_price:bigint>>",
    )
    return txn.select(
        "booking_id",
        "payment_method",
        F.size(items).alias("num_items"),
        F.aggregate(
            items, F.lit(0).cast("bigint"), lambda acc, x: acc + x["quantity"]
        ).alias("total_items"),
    )


@register(
    "sm8_weighted_sample",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               (CAST(('0x' || substr(md5('wsample:v1' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) + 1) / 4294967296.0 AS u
        FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens
    FROM (
        SELECT doc_id, n_tokens,
               ROW_NUMBER() OVER (ORDER BY ln(u) / n_tokens DESC, doc_id) AS rn
        FROM w
    )
    WHERE rn <= 100
    """,
    doc="Exact-n length-WEIGHTED sample of documents (Efraimidis-Spirakis "
    "key = ln(u)/w, top-100): inclusion probability proportional to token "
    "count — the quality/length-weighted selection mixtures are built "
    "from. Unlike the seeded-rand samples (sm1/sm2, rows-only by design), "
    "the uniform here is the md5-portable hash, so the entire draw "
    "replays in DuckDB and the sample is fully oracle-checked. Scale "
    "shape: narrow key computation + one top-n, no global sort.",
)
def sm8_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops.text import token_count
    from ecommerce_etl_pipeline_spark.operators.sampling import weighted_sample_exact

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return weighted_sample_exact(docs, 100, "doc_id", "n_tokens")


@register(
    "sm9_importance_resample",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ), bk AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5('dsir:v1' || CAST(t AS VARCHAR)), 1, 8))
                    AS BIGINT) % 64 AS b
        FROM tok
    ), counts AS (
        SELECT b, COUNT(*) AS n_raw,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_tgt
        FROM bk GROUP BY b
    ), tot AS (
        SELECT SUM(n_raw) AS nr, SUM(n_tgt) AS nt FROM counts
    ), lr AS (
        SELECT b,
               CAST(FLOOR(ln((n_tgt + 1.0) / (nt + 64)) * 1e9 + 0.5) AS BIGINT)
             - CAST(FLOOR(ln((n_raw + 1.0) / (nr + 64)) * 1e9 + 0.5) AS BIGINT) AS nlr
        FROM counts CROSS JOIN tot
    ), docw AS (
        SELECT doc_id, SUM(nlr) AS nano FROM bk JOIN lr USING (b) GROUP BY doc_id
    )
    SELECT doc_id, {sql_round("nano / 1e9", 6)} AS log_weight
    FROM docw ORDER BY nano DESC, doc_id LIMIT 100
    """,
    doc="DSIR importance resampling (Xie et al. 2023): score every document "
    "by how much more likely its hashed-unigram bag is under the target "
    "distribution (lang='en' docs) than under the raw corpus, then keep "
    "the top-100 — the data-selection step that tilts a web crawl toward "
    "a target domain. The whole model is 64 smoothed bucket counts (a "
    "bounded broadcast statistic); scoring is one shuffle-free narrow "
    "fold per document over a literal log-ratio table, and weights are "
    "nano-quantized INTEGER sums (txt_unigram_logprob's trick), so "
    "ranking is FP-order-independent and the full draw replays in DuckDB.",
)
def sm9_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.functions.exact_agg import portable_round
    from ecommerce_etl_pipeline_spark.llmops.splits import importance_logweights

    docs = load_table(spark, sf_dir, "documents")
    lw = importance_logweights(docs, F.col("lang") == "en")
    return (
        lw.orderBy(F.desc("nano_logweight"), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            portable_round(
                F.col("nano_logweight").cast("double") / F.lit(1e9), 6
            ).alias("log_weight"),
        )
    )


@register(
    "sm10_epoch_shuffle",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id,
               {splits.sql_hash_uint32("doc_id", "shard:v1")} % 16 AS shard,
               ROW_NUMBER() OVER (
                   PARTITION BY {splits.sql_hash_uint32("doc_id", "shard:v1")} % 16
                   ORDER BY {splits.sql_hash_key("doc_id", "epoch:0:")}, doc_id
               ) AS pos_epoch0,
               ROW_NUMBER() OVER (
                   PARTITION BY {splits.sql_hash_uint32("doc_id", "shard:v1")} % 16
                   ORDER BY {splits.sql_hash_key("doc_id", "epoch:1:")}, doc_id
               ) AS pos_epoch1
        FROM documents
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(pos_epoch0 AS BIGINT) AS pos_epoch0,
           CAST(pos_epoch1 AS BIGINT) AS pos_epoch1
    FROM ranked
    """,
    doc="Deterministic per-epoch training order: every document gets a "
    "(shard, position) for two epochs, each epoch a different md5 salt — "
    "the dataloader contract that makes a training run REPLAYABLE (same "
    "order on any engine, any partitioning, any restart) while still "
    "reshuffling between epochs. Scale shape: the global order is "
    "shard-major, so each window sorts one md5-uniform shard, never the "
    "whole corpus (the txt_shard_manifest layout with positions added); "
    "new epochs are a salt change, zero state.",
)
def sm10_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ecommerce_etl_pipeline_spark.llmops import splits

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shard = F.pmod(splits.hash_uint32(F.col("doc_id"), "shard:v1"), F.lit(16))
    out = docs.select("doc_id", shard.cast("bigint").alias("shard"))
    for ep in (0, 1):
        w = Window.partitionBy("shard").orderBy(
            splits.hash_key(F.col("doc_id"), f"epoch:{ep}:"), "doc_id"
        )
        out = out.withColumn(f"pos_epoch{ep}", F.row_number().over(w).cast("bigint"))
    return out

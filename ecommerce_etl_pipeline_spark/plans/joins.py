"""Join queries — SURVEY.md §2.3 (J1-J7) over driver testdata.

Join-strategy stance for 100 TB:
- dimension tables (region 5, nation 25, part/customer ≤ a few 100 MB even
  at SF100k) are *broadcast* — no shuffle of the fact side;
- fact-to-fact equi-joins (orders ⋈ lineitem) shuffle on the join key; at
  scale both sides would be bucketed by orderkey at write time to make this
  a zero-shuffle sort-merge join;
- semi/anti joins are expressed as such (left_semi / left_anti) so Catalyst
  can build only the key set instead of materializing the joined row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.functions.exact_agg import exact_sum
from ecommerce_etl_pipeline_spark.operators.parallelism import repartition_for_collect
from ecommerce_etl_pipeline_spark.functions.exact_agg import sql_round
from ecommerce_etl_pipeline_spark.plans.registry import register
from ecommerce_etl_pipeline_spark.sources.io import load_table


@register(
    "j1_order_lineitem_join",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS num_lineitems,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_quantity,
           FLOOR(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5)
               / 100 AS total_value
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc="Fact-to-fact equi-join then aggregate (J1) — reference clickstream ⋈ "
    "transactions, customer_analytics_dag.py:177-188 (the one query the "
    "reference pushes to Postgres; here it is native). Shuffles both sides "
    "on orderkey; bucketing both tables by orderkey at write time removes "
    "the shuffle entirely at scale.",
)
def j1_order_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # fact-fact join, unhinted: both sides' size estimates are
    # scan-proportional, so the optimizer broadcasts orders only while it
    # genuinely fits and flips to the partition-honest SMJ as the data
    # grows (AQE re-checks against measured shuffle sizes). The enforced
    # invariant is no EXPLICIT broadcast of a fact side — with
    # autoBroadcastJoinThreshold=-1 this plan contains no broadcast at all
    # (tests/test_plans.py::test_no_forced_broadcast_of_scaling_sides).
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("num_lineitems"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_quantity"),
            exact_sum("l_extendedprice").alias("total_value"),
        )
    )


@register(
    "j2_customer_geo_broadcast",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(c.c_custkey) AS customer_count,
           FLOOR(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5) / 100
               AS total_balance
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    doc="Two-hop broadcast left join against tiny dims (J2) — reference "
    "behavior ⋈ segment merge, customer_analytics_dag.py:205-209. Both dims "
    "broadcast: the customer side never shuffles for the join.",
)
def j2_customer_geo_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .groupBy(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(
            F.count("c_custkey").alias("customer_count"),
            exact_sum("c_acctbal").alias("total_balance"),
        )
    )


@register(
    "j3_parts_with_sales",
    oracle="""
    SELECT p.p_partkey, p.p_name,
           CAST(COALESCE(s.total_quantity, 0) AS BIGINT) AS total_quantity,
           COALESCE(s.total_value, 0.0) AS total_value
    FROM part p
    LEFT JOIN (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS BIGINT)) AS total_quantity,
               FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5)
                   / 100 AS total_value
        FROM lineitem GROUP BY 1
    ) s ON p.p_partkey = s.l_partkey
    """,
    doc="Dimension left-join to a fact rollup with zero-fill for never-sold "
    "parts (J3 + P6) — reference product_analytics_dag.py:68-84. The rollup "
    "aggregates BEFORE the join (shuffle carries |parts| rows, not "
    "|lineitems|); the joined rollup side broadcasts.",
)
def j3_parts_with_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    rollup = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_quantity"),
        exact_sum("l_extendedprice").alias("total_value"),
    )
    return (
        part.join(rollup, part.p_partkey == rollup.l_partkey, "left")
        .na.fill({"total_quantity": 0, "total_value": 0.0})
        .select("p_partkey", "p_name", "total_quantity", "total_value")
    )


@register(
    "j4_pair_names_lookup",
    oracle="""
    WITH pairs AS (
        SELECT a.l_partkey AS product1, b.l_partkey AS product2, COUNT(*) AS pair_count
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.pair_count, p.product1, p.product2,
           p1.p_name AS product1_name, p2.p_name AS product2_name
    FROM pairs p
    JOIN part p1 ON p.product1 = p1.p_partkey
    JOIN part p2 ON p.product2 = p2.p_partkey
    ORDER BY p.pair_count DESC, p.product1, p.product2
    LIMIT 20
    """,
    doc="Market-basket pair mining + double aliased name lookup (J4, J7, A9) "
    "— reference product_analytics_dag.py:196-234. Pairs are generated "
    "in-place from per-order baskets (sorted collect_list + nested transform: "
    "one shuffle, fan-out bounded by items/order) instead of a fact-table "
    "self-join, which would shuffle lineitem twice and explode intermediate "
    "rows at 100 TB; the name dim broadcasts twice under different aliases. "
    "Position-pairs over the sorted multiset are exactly the self-join's "
    "a.l_partkey < b.l_partkey multiplicity: the tail slice is all y >= x, "
    "so filtering y > x BEFORE building pairs drops equal pairs while "
    "they are still bare longs (HOF lambdas run interpreted — cheaper "
    "filter elements beat discarding built values). The pair key VENUE "
    "is a dim-statistic pick (the kmeans-centroid class of bounded "
    "driver decision): when max(p_partkey) < 2^31 — every dictionary-"
    "encoded or TPC-H domain below ~sf10k — the pair travels the count "
    "shuffle PACKED into one long (x << 32 | y, exact bitwise; a "
    "raise_error branch still guards facts outside the dim domain so "
    "aliasing is impossible, RI violations fail loudly), halving the "
    "dominant exchange's key width against j4's data term (~1.2M "
    "rows/sf0.1, 12.5x at sf1); wider key domains take the struct-pair "
    "venue — both venues are exact, so the pick never changes results.",
)
def j4_pair_names_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # collect_list has no map-side reduction: pre-partition on the basket key
    # so the list build runs at full parallelism (no extra exchange — the
    # groupBy reuses this partitioning).
    baskets = repartition_for_collect(li, "l_orderkey").groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("parts")
    )
    names = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # venue statistic: one scalar off the name DIM (already scanned for
    # the lookup below) decides the pair-key encoding; facts are RI-bound
    # to the dim, and the packed lambda's raise_error keeps even an RI
    # violation from aliasing silently
    max_pk = names.agg(F.max("p_partkey")).collect()[0][0]
    if max_pk is not None and max_pk < 2_147_483_648:
        pairs = (
            baskets.select(
                F.explode(
                    F.expr(
                        """
                        flatten(transform(parts, (x, i) ->
                            transform(
                                filter(slice(parts, i + 2, size(parts) - i - 1), y -> y > x),
                                -- y > x bounds both keys, so one comparison guards
                                -- the whole pack; 2^31 keeps shiftleft(x,32)+y
                                -- inside the positive long range, zero aliasing
                                y -> if(y < 2147483648,
                                        shiftleft(bigint(x), 32) + y,
                                        bigint(raise_error(
                                          'j4: partkey >= 2^31 outside the dim domain — packed pair key would alias'))))))
                        """
                    )
                ).alias("pk")
            )
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("pair_count"))
            .select(
                F.shiftright("pk", 32).alias("product1"),
                F.col("pk").bitwiseAND(F.lit(4294967295)).alias("product2"),
                "pair_count",
            )
        )
    else:
        # wide-domain venue: struct pair key (no packing possible in 64
        # bits once both keys can exceed 32) — identical results
        pairs = (
            baskets.select(
                F.explode(
                    F.expr(
                        """
                        flatten(transform(parts, (x, i) ->
                            transform(
                                filter(slice(parts, i + 2, size(parts) - i - 1), y -> y > x),
                                y -> struct(x AS product1, y AS product2))))
                        """
                    )
                ).alias("pair")
            )
            .groupBy(
                F.col("pair.product1").alias("product1"),
                F.col("pair.product2").alias("product2"),
            )
            .agg(F.count(F.lit(1)).alias("pair_count"))
        )
    p1 = F.broadcast(names.select(F.col("p_partkey").alias("product1"),
                                  F.col("p_name").alias("product1_name")))
    p2 = F.broadcast(names.select(F.col("p_partkey").alias("product2"),
                                  F.col("p_name").alias("product2_name")))
    return (
        pairs.join(p1, "product1")
        .join(p2, "product2")
        .select("pair_count", "product1", "product2", "product1_name", "product2_name")
        .orderBy(F.desc("pair_count"), F.asc("product1"), F.asc("product2"))
        .limit(20)
    )


@register(
    "j6_semi_cascade",
    oracle="""
    SELECT COUNT(*) AS num_lineitems,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_quantity
    FROM lineitem l
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey
          AND EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
          )
    )
    """,
    doc="Referential-integrity semi-join cascade (J6, P4, SM3 shape) — "
    "reference data_sampling.py:144-151: parent keys filter children two "
    "levels deep. left_semi joins never materialize the joined row, only "
    "the key membership.",
)
def j6_semi_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    orders_b = orders.join(
        F.broadcast(cust.select("c_custkey")), orders.o_custkey == F.col("c_custkey"), "left_semi"
    )
    # the surviving-orders key set is FACT-scaled (a segment's share of all
    # orders), not dim-sized — never EXPLICITLY broadcast it (that dies at
    # scale); unhinted, the optimizer broadcasts only while the key set's
    # scan-proportional estimate fits, with j11's bloom prune as the
    # scan-side accelerator when needed
    li_b = li.join(
        orders_b.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    return li_b.agg(
        F.count(F.lit(1)).alias("num_lineitems"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_quantity"),
    )


@register(
    "j8_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Anti join (engine surface beyond the reference; underpins the "
    "upsert-lite S9 pattern, test_db.py:53-64).",
)
def j8_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # the anti side is the full fact key column — unhinted (see j1: the
    # scan-proportional estimate flips it to a shuffle anti join at scale)
    return cust.join(
        orders.select("o_custkey"),
        cust.c_custkey == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "j11_bloom_pruned_join",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) AS num_lineitems,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_quantity
    FROM lineitem l
    WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
    )
    GROUP BY 1
    """,
    doc="Runtime Bloom-filter join pruning (operators/bloom.py): the "
    "high-value order keys are compressed into a broadcast bitmap whose "
    "membership probe runs inside the lineitem scan's codegen stage, so "
    "non-matching fact rows die BEFORE the semi-join shuffle; the exact "
    "semi join afterwards removes the ~4e-4 false positives, so results "
    "are identical to the plain semi join (the oracle). This is the "
    "replacement for the reference's driver-side key-list isin filters "
    "(data_sampling.py:52-64) and the library form of Spark's own "
    "runtime.bloomFilter rewrite. At 100 TB: bitmap is build-side-sized "
    "(KBs), probe shuffle shrinks to true-match density.",
)
def j11_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.operators.bloom import bloom_prune

    li = load_table(spark, sf_dir, "lineitem")
    hot = (
        load_table(spark, sf_dir, "orders")
        # > 400000 (not 500000): TPC-H totalprice tops out near 500k at
        # EVERY SF, so the old threshold matched nothing at sf0.01 and the
        # driver row certified only the empty probe path. 400k is non-empty
        # at sf0.01 and sf0.1 while keeping the build side tiny.
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    # expected_items: a cheap count of the (already tiny) filtered build
    # side right-sizes the bitmap — a fixed 20k bound made the literal
    # bitmap and its per-partition build accumulator ~100x larger than
    # needed at small SF (measured 15 s -> ~2 s first run at sf0.01).
    # The count is one bounded aggregate job, the same class of build-time
    # statistic the optimizer itself collects for join planning.
    pruned = bloom_prune(
        li, hot, "l_orderkey", "o_orderkey",
        expected_items=max(1024, hot.count()),
    )
    return (
        pruned.join(F.broadcast(hot), pruned.l_orderkey == hot.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("num_lineitems"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_quantity"),
        )
    )


@register(
    "j12_association_rules",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM b),
    item AS (SELECT l_partkey AS it, COUNT(*) AS sup FROM b GROUP BY 1),
    pair AS (
        SELECT a.l_partkey AS p1, c.l_partkey AS p2, COUNT(*) AS pn
        FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                         AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2
    ),
    rules AS (
        SELECT p1 AS antecedent, p2 AS consequent, pn FROM pair
        UNION ALL SELECT p2, p1, pn FROM pair
    )
    SELECT antecedent, consequent, pn AS pair_count,
           {sql_round("pn * 1.0 / ia.sup", 6)} AS confidence,
           {sql_round("CAST(pn * n_baskets AS DOUBLE) / (ia.sup * ic.sup)", 6)} AS lift
    FROM rules
    JOIN item ia ON ia.it = antecedent
    JOIN item ic ON ic.it = consequent
    CROSS JOIN n
    WHERE pn >= 3
    ORDER BY CAST(pn * n_baskets AS DOUBLE) / (ia.sup * ic.sup) DESC,
             pn * 1.0 / ia.sup DESC, antecedent, consequent
    LIMIT 20
    """,
    doc="Market-basket association rules (support / confidence / lift, "
    "top-20 by lift): the classic retail cross-sell analysis over order "
    "baskets. Pair generation reuses j4's in-array HOF expansion over "
    "per-order sorted DISTINCT item sets — no self-join of the fact "
    "table, output bounded by sum(|basket|^2) with |basket| <= 7 — and "
    "the basket count rides as a broadcast single-row statistic. All "
    "rule metrics derive from exact integer counts, so ranking is "
    "engine-identical.",
)
def j12_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.functions.exact_agg import portable_round
    from ecommerce_etl_pipeline_spark.operators.parallelism import (
        repartition_for_collect,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        repartition_for_collect(li, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    n_row = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    item = (
        baskets.select(F.explode("parts").alias("it"))
        .groupBy("it")
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(parts, (x, i) ->
                        transform(slice(parts, i + 2, size(parts) - i - 1),
                                  y -> struct(x AS p1, y AS p2))))
                    """
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("pn"))
        .filter(F.col("pn") >= 3)
    )
    rules = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("antecedent"), F.col("p2").alias("consequent")
                ),
                F.struct(
                    F.col("p2").alias("antecedent"), F.col("p1").alias("consequent")
                ),
            )
        ).alias("r"),
        "pn",
    ).select("r.antecedent", "r.consequent", "pn")
    ia = item.select(F.col("it").alias("antecedent"), F.col("sup").alias("ante_n"))
    ic = item.select(F.col("it").alias("consequent"), F.col("sup").alias("cons_n"))
    conf = F.col("pn") / F.col("ante_n")
    lift = (F.col("pn") * F.col("n_baskets")).cast("double") / (
        F.col("ante_n") * F.col("cons_n")
    )
    return (
        rules.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(n_row))
        .select(
            "antecedent",
            "consequent",
            F.col("pn").alias("pair_count"),
            portable_round(conf, 6).alias("confidence"),
            portable_round(lift, 6).alias("lift"),
            lift.alias("_lift_raw"),
            conf.alias("_conf_raw"),
        )
        .orderBy(
            F.desc("_lift_raw"), F.desc("_conf_raw"), "antecedent", "consequent"
        )
        .limit(20)
        .drop("_lift_raw", "_conf_raw")
    )


def _pagerank_oracle_sql(iterations: int = 6, scale: int = 10**12) -> str:
    """Unrolled integer-PageRank replay in DuckDB: because
    operators/graph.py::pagerank_portable updates ranks in EXACT integer
    arithmetic (order-independent sums), a fixed iteration count unrolls
    into plain CTEs — the co-purchase graph is symmetric, so the dangling
    branch vanishes and each round is one join + one integer aggregate.
    """
    its = []
    for t in range(1, iterations + 1):
        its.append(f"""
    r{t} AS (
        SELECT nd.node,
               CAST((15 * {scale}) // (100 * nn.n) + COALESCE(s.c, 0) AS BIGINT) AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst AS node, SUM((85 * p.r) // (100 * d.deg)) AS c
            FROM r{t - 1} p
            JOIN edges e ON e.src = p.node
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ) s ON s.node = nd.node
    )""")
    return f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, c.l_partkey AS dst
        FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                         AND a.l_partkey <> c.l_partkey
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT node, CAST({scale} // nn.n AS BIGINT) AS r
        FROM nodes CROSS JOIN nn
    ),{",".join(its)}
    SELECT node, r AS rank_pico
    FROM r{iterations}
    ORDER BY r DESC, node LIMIT 20
    """


@register(
    "g1_pagerank_copurchase",
    oracle=_pagerank_oracle_sql(),
    doc="PageRank over the co-purchase graph (parts linked when bought in "
    "the same order, both directions): the canonical iterative graph "
    "algorithm as a DataFrame loop — per round one rank-edge join + one "
    "map-side-combinable contribution aggregate, lineage cut every "
    "round, driver never holds a rank vector. Oracle-checked: ranks "
    "update in EXACT integer picorank arithmetic "
    "(operators/graph.py::pagerank_portable — damping as the ratio "
    "85/100, truncating division), so sums are order-independent and the "
    "six iterations unroll into plain DuckDB CTEs. Picoranks / 1e12 stay "
    "within 1e-9 of float PageRank (pure-Python reference in "
    "tests/test_graph.py).",
)
def g1_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        repartition_for_collect(li, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                """
                flatten(transform(parts, (x, i) ->
                    transform(slice(parts, i + 2, size(parts) - i - 1),
                              y -> struct(x AS src, y AS dst))))
                """
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # pairs are canonical undirected edges by construction (sorted part
    # set, strict upper-triangle slice => src < dst): hand them to the
    # operator in canonical form and let IT mirror where mirroring is
    # free — this halves the edge distinct shuffle and the venue-probe
    # transfer, the two dominant non-loop terms
    ranks = pagerank_portable(pairs, iterations=6, symmetric=True)
    return (
        ranks.select("node", F.col("rank").alias("rank_pico"))
        .orderBy(F.desc("rank_pico"), "node")
        .limit(20)
    )

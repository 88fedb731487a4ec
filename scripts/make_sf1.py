#!/usr/bin/env python
"""Synthesize an sf1 directory (10x sf0.1) by deterministic
replicate-with-resalt, written to parquet so every registered query can
run against a second scale decade (``scripts/query.py --sf SF0.1 --sf
localdata/sf1`` measures and gates both).

Key-domain discipline: every table sharing a key domain shifts by the
SAME per-copy offset (orders+lineitem on orderkey, customer+orders on
custkey, part+lineitem on partkey, supplier+lineitem on suppkey), so
referential integrity (and therefore join selectivity per row) is
preserved exactly at 10x.

Text resalt (:func:`resalt_text`): each non-first document copy gets a
copy-specific marker token injected every 4 tokens, rewriting its
shingle set so copies are NOT near-duplicates of each other and
duplicate density stays ~linear in the corpus (the realistic web-corpus
shape). Embeddings get a deterministic per-copy, per-dimension
perturbation (no rand()) so vectors don't collapse into k identical
copies and ANN rankings stay non-degenerate.

region/nation stay dimension-sized (unreplicated), as at every TPC-H
scale factor.

Usage: python scripts/make_sf1.py [out_dir]   (default: localdata/sf1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, DataFrame, functions as F  # noqa: E402

from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from ecommerce_etl_pipeline_spark.sources.io import load_table  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10

# key-domain offsets: one per key family, from the sf0.1 maxima (stable
# because the source is the read-only driver-generated directory)
OFFSETS = {
    "orderkey": 1_000_000,
    "custkey": 100_000,
    "partkey": 100_000,
    "suppkey": 10_000,
    "event_id": 1_000_000,
    "doc_id": 100_000,
    "vec_id": 100_000,
}


def replicate(df: DataFrame, key_offsets: dict[str, str], copies: int = COPIES,
              resalt=None) -> DataFrame:
    # OFFSETS are sf0.1 key maxima; if SPARK_GRAFT_SF_DIR points at a
    # larger or differently-generated source, shifted keys would silently
    # collide across copies and corrupt referential integrity (and every
    # downstream join-selectivity/duplicate-density claim). One cheap agg
    # per table validates the domain bound and fails loudly instead.
    bounds = df.agg(
        *(F.max(col).alias(col) for col in key_offsets)
    ).first()
    for col, domain in key_offsets.items():
        mx = bounds[col]
        if mx is None or mx >= OFFSETS[domain]:
            raise ValueError(
                f"key domain overflow: max({col}) = {mx} >= offset "
                f"{OFFSETS[domain]} for domain '{domain}' — source at "
                f"{SRC} is not the sf0.1 layout these offsets assume"
            )
    parts = [df]
    for i in range(1, copies):
        shifted = df
        for col, domain in key_offsets.items():
            shifted = shifted.withColumn(col, F.col(col) + F.lit(i * OFFSETS[domain]))
        if resalt is not None:
            shifted = resalt(shifted, i)
        parts.append(shifted)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def resalt_text(col: Column, i: int) -> Column:
    """Copy ``i``'s text: a copy-specific marker token injected every 4
    tokens, which rewrites its shingle set so replicas are not near-dups
    of each other."""
    return F.regexp_replace(col, r"((\S+\s+){4})", f"$1u{i} ")


def doc_resalt(df: DataFrame, i: int) -> DataFrame:
    return df.withColumn("text", resalt_text(F.col("text"), i)).withColumn(
        "n_chars", F.length("text")
    )


def emb_resalt(df: DataFrame, i: int) -> DataFrame:
    # deterministic +/- 0.001-scale per-copy, per-dim nudge: keeps copies
    # distinct for ranking without changing the distribution's shape
    # CAST back to the element type of the source column so sf1's parquet
    # schema matches every other SF directory (a bare `x + double` would
    # silently promote array<float> to array<double> and give sf1 a
    # different float-storage round-trip than the decades it's compared to)
    elem = df.schema["embedding"].dataType.elementType.simpleString()
    return df.withColumn(
        "embedding",
        F.expr(
            f"transform(embedding, (x, j) -> CAST(x + "
            f"CAST((pmod(vec_id * 31 + j * 7 + {i} * 13, 2001) - 1000) AS DOUBLE)"
            f" / 1000000.0 AS {elem}))"
        ),
    )


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "localdata", "sf1"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="make_sf1")
    spark.sparkContext.setLogLevel("ERROR")

    plans = {
        "region": load_table(spark, SRC, "region"),
        "nation": load_table(spark, SRC, "nation"),
        "customer": replicate(load_table(spark, SRC, "customer"), {"c_custkey": "custkey"}),
        "supplier": replicate(load_table(spark, SRC, "supplier"), {"s_suppkey": "suppkey"}),
        "part": replicate(load_table(spark, SRC, "part"), {"p_partkey": "partkey"}),
        "orders": replicate(
            load_table(spark, SRC, "orders"),
            {"o_orderkey": "orderkey", "o_custkey": "custkey"},
        ),
        "lineitem": replicate(
            load_table(spark, SRC, "lineitem"),
            {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
        ),
        # events.user_id lives in the CUSTKEY domain (the as-of join pairs
        # it with orders.o_custkey — plans/temporal.py) so it must shift by
        # the same per-copy offset as customer/orders
        "events": replicate(
            load_table(spark, SRC, "events"), {"event_id": "event_id", "user_id": "custkey"}
        ),
        "documents": replicate(
            load_table(spark, SRC, "documents"), {"doc_id": "doc_id"}, resalt=doc_resalt
        ),
        "embeddings": replicate(
            load_table(spark, SRC, "embeddings"), {"vec_id": "vec_id"}, resalt=emb_resalt
        ),
    }
    for name, df in plans.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        print(name, "->", path, spark.read.parquet(path).count(), "rows")


if __name__ == "__main__":
    main()

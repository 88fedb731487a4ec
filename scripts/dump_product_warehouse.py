#!/usr/bin/env python
"""Canonical sorted dump of pl_product_warehouse at sf0.01 (r12 VERDICT
brief #2c): the r12 driver cert failed on hash with rows/schema green and
the divergence was NOT reproducible locally (five driver-faithful
bit-exact repros + face-by-face multiset diffs all passed), so nothing
committed let anyone diff WHICH row the driver saw differently. This
artifact closes that gap — if a future driver run reds the hash again,
its side can be diffed row-by-row against this dump.

Format: gzip CSV, rows sorted lexicographically over ALL columns
(warehouse_table, entity_key, n1, n2, amount, label1, label2), NULLs as
the literal ``<null>``, doubles via repr (full precision — the diff must
see ulps). A sha256 of the UNCOMPRESSED bytes is written alongside so a
mismatch is detectable without unpacking.

Usage: python scripts/dump_product_warehouse.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import gzip
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def canon_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "artifacts"
    )
    os.makedirs(out_dir, exist_ok=True)
    # vanilla session — the driver's environment (ANSI=true on Spark 4)
    spark = SparkSession.builder.master("local[16]").appName("pw-dump").getOrCreate()
    import ecommerce_etl_pipeline_spark.plans  # noqa: F401
    from ecommerce_etl_pipeline_spark.plans.registry import _REGISTRY

    from ecommerce_etl_pipeline_spark.operators import caches

    with caches.scope():
        df = _REGISTRY["pl_product_warehouse"].fn(spark, sf)
        cols = df.columns
        rows = sorted(
            tuple(canon_cell(r[c]) for c in cols) for r in df.collect()
        )
    body = ",".join(cols) + "\n" + "\n".join(",".join(r) for r in rows) + "\n"
    raw = body.encode()
    sha = hashlib.sha256(raw).hexdigest()
    tag = os.path.basename(sf.rstrip("/"))
    csv_path = os.path.join(out_dir, f"pl_product_warehouse_{tag}.csv.gz")
    # fixed mtime so the artifact is byte-stable across regenerations
    with open(csv_path, "wb") as fh:
        with gzip.GzipFile(fileobj=fh, mode="wb", mtime=0) as gz:
            gz.write(raw)
    with open(csv_path + ".sha256", "w") as fh:
        fh.write(f"{sha}  pl_product_warehouse_{tag}.csv (uncompressed)\n")
    print(f"{len(rows)} rows -> {csv_path}\nsha256(uncompressed) = {sha}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

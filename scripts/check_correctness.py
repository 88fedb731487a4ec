#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every registered query
at sf0.01 (or $1) with a VANILLA SparkSession and compare to its DuckDB
oracle. Queries run on a small thread pool (Spark job submission is
thread-safe; each worker opens its own DuckDB connection), cutting the
sweep from ~7 min to ~2-3 min without changing any result.

The sweep runs outside any ``caches.scope()``, so no query's caches are
released while another may still share them (operators/caches.py; the two
BPE queries share their word-count cache). At the sweep's small SF the
accumulated caches are a few MB; the session's end releases everything.
Usage: python scripts/check_correctness.py [sf_dir] [n_threads]
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import ecommerce_etl_pipeline_spark.plans  # noqa: F401,E402
from ecommerce_etl_pipeline_spark.plans.registry import _REGISTRY  # noqa: E402
from tests.oracle import assert_oracle_match  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_threads = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("correctness")
        # the sweep deliberately retains every query's caches (see
        # module docstring), and at sf0.1 the accumulated entries plus
        # 166 queries' broadcast builds outgrow Spark's 1g DEFAULT
        # driver heap — observed round 10 as a late-sweep "Not enough
        # memory to build and broadcast" failure on whichever sql_*
        # query ran after the heap filled (cascading to everything
        # behind it on the worst run). Sizing the local mirror's heap is
        # the faithful fix: the grading driver supplies its own session
        # and runs at sf0.01, where the default is ample. Everything
        # else stays vanilla (ANSI defaults).
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )

    def check(item):
        name, spec = item
        try:
            if spec.oracle:
                assert_oracle_match(spec.fn(spark, sf), spec.oracle, sf, name=name)
                return name, "OK", None
            return name, "ROWS", spec.fn(spark, sf).count()
        except Exception as e:  # noqa: BLE001
            return name, "FAIL", str(e)[:300]

    fails: list[str] = []
    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        for name, status, extra in pool.map(check, sorted(_REGISTRY.items())):
            if status == "FAIL":
                fails.append(name)
                print(f"FAIL {name}: {extra}")
            elif status == "ROWS":
                print(f"ROWS {name}: {extra}")
            else:
                print(f"OK   {name}")
    print(f"\n{len(_REGISTRY) - len(fails)}/{len(_REGISTRY)} ok; fails: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Dump optimized physical plans of registered queries.

    python scripts/dump_plans.py
        Regenerate PLANS.md: the plan of every headline benchmark query
        (plus the four warehouse DAGs) at sf0.01, so plan quality is
        reviewable without a cluster.

    python scripts/dump_plans.py --out DIR [--tag T] [query ...]
        Write `.explain("formatted")` of each query to DIR/<q>_<T>.txt
        (DIR/<q>.txt without --tag), e.g. before/after dumps around a
        plan change. With no query list, dumps every HEADLINE + EXTENDED
        bench query. Plans are captured at $SPARK_GRAFT_SF_DIR (default
        sf0.1, the bench scale) with the repo session factory bench.py
        uses, so Exchange counts and join strategies match what the bench
        executes. Queries whose build phase runs jobs (iterative trainers,
        qcut edges) pay that cost here; explain itself does not execute
        the final plan.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import io
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

from bench import EXTENDED, HEADLINE  # noqa: E402
from ecommerce_etl_pipeline_spark.plans import all_queries  # noqa: E402
from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# The four reference-DAG warehouse certs ride along in PLANS.md: their
# scan-economics claims (e.g. pl_sales_warehouse's one orders scan +
# Expand) are worth reviewing in plan form.
WAREHOUSES = [
    "pl_sales_warehouse",
    "pl_customer_warehouse",
    "pl_product_warehouse",
    "pl_pricing_warehouse",
]


def write_plans_md() -> None:
    spark = SparkSession.builder.master("local[8]").appName("plans").getOrCreate()
    # Stamp: the content hash of the ENGINE PACKAGE tree and bench.py's
    # blob — the inputs that determine the plans. A commit hash would be
    # one commit stale (committing the regenerated file changes HEAD).
    # The dirty check also covers this script, so an uncommitted dumper
    # edit cannot stamp a clean-looking artifact. Verify on any later
    # commit with the same `git rev-parse` calls.

    def rev(spec: str) -> str:
        return subprocess.run(
            ["git", "rev-parse", "--short", spec],
            capture_output=True, text=True, cwd=ROOT,
        ).stdout.strip() or "unknown"

    pkg = rev("HEAD:ecommerce_etl_pipeline_spark")
    bench_blob = rev("HEAD:bench.py")
    dirty = subprocess.run(
        ["git", "status", "--porcelain", "--",
         "ecommerce_etl_pipeline_spark", "bench.py", "scripts/dump_plans.py"],
        capture_output=True, text=True, cwd=ROOT,
    ).stdout.strip()
    out = [
        "# PLANS — optimized physical plans of the headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` on "
        f"{datetime.date.today().isoformat()} against engine-package tree "
        f"`{pkg}` (= `git rev-parse HEAD:ecommerce_etl_pipeline_spark`), "
        f"bench.py blob `{bench_blob}`"
        f"{' (+uncommitted changes)' if dirty else ''}.",
        "",
        "Regenerate with `python scripts/dump_plans.py` (vanilla session, "
        "sf0.01). What to look for: `PushedFilters`/`ReadSchema` at scans, "
        "`BroadcastHashJoin` on dim/small sides, partial+final "
        "`HashAggregate` pairs, no `CartesianProduct`, Python nodes only in "
        "the sanctioned multimodal queries.",
        "",
    ]
    queries = all_queries()
    for name in HEADLINE + WAREHOUSES:
        df = queries[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="simple")
        out += [f"## {name}", "", "```", buf.getvalue().strip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE) + len(WAREHOUSES)} plans")


def dump_formatted(out_dir: str, tag: str | None, names: list[str]) -> None:
    sf = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF), "sf0.1")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    suffix = f"_{tag}" if tag else ""
    for name in names or [*HEADLINE, *EXTENDED]:
        if name not in queries:
            print(f"skip {name} (not registered)")
            continue
        df = queries[name](spark, sf)
        path = os.path.join(out_dir, f"{name}{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"))
        spark.catalog.clearCache()
        print(f"wrote {path}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="write formatted plans here instead of PLANS.md")
    ap.add_argument("--tag", help="file-name suffix, e.g. before / after")
    ap.add_argument("queries", nargs="*", help="query names (default: bench tier)")
    args = ap.parse_args()
    if args.out is None:
        if args.tag or args.queries:
            ap.error("--tag and query names need --out")
        write_plans_md()
    else:
        dump_formatted(args.out, args.tag, args.queries)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Partitioning-determinism audit: run EVERY registered query twice in one
session — once with spark.sql.shuffle.partitions=32, once with 7 — and
compare canonicalized results. Any query whose output depends on shuffle
partition count (the classic leak: FP summation order across partitions)
fails here before it can flake in a real cluster where partition counts
are never twice the same.

Scan-side partitioning (file splits, spark.range) is deliberately held
constant so seeded per-partition randomness (sm1/sm2/sm4) stays
comparable; only the SHUFFLE layout varies, which is exactly the degree
of freedom a cluster re-plan changes.

On success the script WRITES the result block (query count, tree hash,
date, sf) between the AUTO markers in DETERMINISM.md — the artifact is
owned by the gate the way COSTS.json is owned by scripts/query.py, so its
committed text can never lag the tree it certifies (the r6 staleness
finding). A failing run leaves the artifact untouched.

Usage: python scripts/check_determinism.py [sf_dir] [n_threads]
"""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import ecommerce_etl_pipeline_spark.plans  # noqa: F401,E402
from ecommerce_etl_pipeline_spark.plans.registry import _REGISTRY  # noqa: E402
from tests.oracle import canon_rows  # noqa: E402

#: columns that are RUN-unique by specification (SC14: `uuid()` mints a
#: fresh id per execution — that is its contract, not a determinism leak).
#: They are dropped before comparison; everything else must match.
RUN_UNIQUE_COLS = {"sm4_generated_transactions": ["booking_id"]}


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_threads = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = (
        SparkSession.builder.master("local[16]").appName("determinism").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run_all(partitions: int) -> dict[str, object]:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        out: dict[str, object] = {}

        def one(item):
            name, spec = item
            try:
                df = spec.fn(spark, sf)
                for c in RUN_UNIQUE_COLS.get(name, []):
                    df = df.drop(c)
                return name, canon_rows(df.toPandas())
            except Exception as e:  # noqa: BLE001
                return name, f"ERROR: {str(e)[:200]}"

        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            for name, rows in pool.map(one, sorted(_REGISTRY.items())):
                out[name] = rows
        spark.catalog.clearCache()
        return out

    a = run_all(32)
    b = run_all(7)
    fails = []
    for name in sorted(_REGISTRY):
        ra, rb = a[name], b[name]
        if isinstance(ra, str) or isinstance(rb, str):
            fails.append(name)
            print(f"ERR  {name}: {ra if isinstance(ra, str) else rb}")
        elif ra != rb:
            fails.append(name)
            diff = [(x, y) for x, y in zip(ra, rb) if x != y][:3]
            print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows; first diffs {diff}")
        else:
            print(f"OK   {name}")
    total = len(_REGISTRY)
    print(f"\n{total - len(fails)}/{total} partition-stable; fails: {fails}")
    if not fails:
        _write_artifact(total, sf)
    return 1 if fails else 0


#: delimiters of the machine-owned block in DETERMINISM.md
_BEGIN, _END = "<!-- AUTO:result -->", "<!-- /AUTO:result -->"


def _write_artifact(total: int, sf: str) -> None:
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "DETERMINISM.md",
    )
    repo = os.path.dirname(path)

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], capture_output=True, text=True, cwd=repo
        ).stdout.strip()

    # r10 VERDICT brief #4: stamp the ENGINE-PACKAGE tree hash (the
    # PLANS.md format) — it names exactly the code the cert covers, so
    # the stamp proves engine identity across later artifact-only
    # commits by itself. A dirty engine package is marked LOUDLY (the
    # cert then covers code no commit pins — re-run after committing);
    # dirt outside the package (round artifacts, scripts) is irrelevant
    # to what the cert certifies and is not flagged.
    engine_tree = (
        git("rev-parse", "--short", "HEAD:ecommerce_etl_pipeline_spark")
        or "unknown"
    )
    engine_dirty = git("status", "--porcelain", "ecommerce_etl_pipeline_spark")
    dirty_note = (
        " **(ENGINE PACKAGE DIRTY — uncommitted engine changes; this "
        "stamp pins no committed tree, re-run after committing)**"
        if engine_dirty
        else ""
    )
    block = (
        f"{_BEGIN}\n"
        f"**{total}/{total} partition-stable, zero diffs** — written by\n"
        f"`scripts/check_determinism.py` on "
        f"{datetime.date.today().isoformat()} against engine tree "
        f"`{engine_tree}`"
        f"{dirty_note}, sf_dir `{sf}`.\n"
        f"{_END}"
    )
    text = open(path).read()
    if _BEGIN in text and _END in text:
        pre = text.split(_BEGIN)[0]
        post = text.split(_END)[1]
        open(path, "w").write(pre + block + post)
        print(
            f"DETERMINISM.md result block updated ({total}/{total}, "
            f"engine tree {engine_tree}"
            f"{' — ENGINE PACKAGE DIRTY' if engine_dirty else ''})"
        )
    else:
        print("WARNING: AUTO markers missing in DETERMINISM.md — not updated")


if __name__ == "__main__":
    raise SystemExit(main())

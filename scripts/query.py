#!/usr/bin/env python
"""Measure registered queries: build and action time, Spark's work
counters, and the caches each query leaves behind.

    python scripts/query.py [NAME ... | all] [--sf DIR [--sf DIR2]]
                            [--reps N] [--out FILE] [--check REF]

With no NAME it measures bench.py's HEADLINE + EXTENDED queries and
the registered queries in ALSO_GATED; ``all`` measures every registered
query. ``--sf`` defaults to $SPARK_GRAFT_SF_DIR, the scale bench.py reads.

Each rep runs the queries in an order shuffled by ``random.Random(rep)``.
A query is built (``fn(spark, sf_dir)``) and then written to the ``noop``
sink inside one ``caches.scope()``; Python and JVM garbage collection run
before its timer starts. Its record holds:

- ``build_s``, ``build_jobs``, ``action_s``, ``action_jobs``: seconds and
  Spark jobs of building the frame and of writing it, in the first rep;
- ``first_s``: the first rep's build + action seconds; ``warm_s``: their
  median over the remaining reps (``None`` with ``--reps 1``); and
  ``median_s``: their median over every rep, the first included;
- ``stages``, ``tasks``, ``scan_rows``, ``scan_bytes``,
  ``shuffle_write_bytes``, ``shuffle_read_bytes``: the first rep's stage
  counters, read from Spark's monitoring REST API through
  ``perfbench/measure.py``;
- ``retained_rdds``: persistent RDDs the query added that were still
  there after its scope exited (the most over the reps).

A second ``--sf`` measures the same queries at that scale in the same
session (``sf_dir2``, ``queries2``) and adds ``growth``, the ratio of the
two ``median_s``; it is reported, not gated.

The records print as a table; ``--out`` also writes them as JSON.
``COSTS.json`` is that file for the default queries at sf0.1 and at
``localdata/sf1`` (built by ``scripts/make_sf1.py``), one rep. Each scale
is recorded by :func:`scale_id`.
``--check REF`` compares the run with a baseline (a JSON file, or a git ref
whose tree holds ``COSTS.json``) and exits 1 when :func:`cost_violations`
finds any.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import bench  # noqa: E402  (HEADLINE/EXTENDED stay single-sourced)
from measure import SparkCounters, drain_listeners, median, sum_stages  # noqa: E402

from ecommerce_etl_pipeline_spark import session  # noqa: E402
from ecommerce_etl_pipeline_spark.operators import caches  # noqa: E402
from ecommerce_etl_pipeline_spark.plans import all_queries  # noqa: E402

#: stage counters kept per query (keys of ``measure.sum_stages``)
COUNTERS = (
    "stages", "tasks", "scan_rows", "scan_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes",
)
#: A query fails the cost gate when one of these grows more than
#: MAX_GROWTH× over its baseline at the same scale: shuffle growth means a
#: re-shuffle crept into the plan, scan growth means a scan widened or lost
#: its pushdown. Most byte counters repeat exactly run to run, and the rest
#: move by a few percent; wall time swings with the host.
GATED = ("shuffle_write_bytes", "scan_bytes")
MAX_GROWTH = 2.0
#: Below this, byte deltas are scheduler noise, not plans.
FLOOR_BYTES = 4 * 1024
#: Measured and gated by default besides bench.py's queries: the banded
#: MinHash curation route that large corpora take, and BPE merge training.
ALSO_GATED = ("dd_curation_minhash", "txt_bpe_merges")


def run_once(spark, counters: SparkCounters, fn, sf_dir: str) -> dict:
    """Build and write one query inside a cache scope; its raw record."""
    gc.collect()
    counters.jvm.System.gc()
    pinned = counters.cache_state()[0]
    counters.skip_history()
    with caches.scope():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        drain_listeners(spark)
        build_jobs = len(counters.new_jobs())
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        action_s = time.perf_counter() - t0
    drain_listeners(spark)
    rec = {
        "build_s": build_s,
        "build_jobs": build_jobs,
        "action_s": action_s,
        "action_jobs": len(counters.new_jobs()),
    }
    work = sum_stages(counters.new_stages())
    rec.update({key: int(work[key]) for key in COUNTERS})
    rec["retained_rdds"] = counters.cache_state()[0] - pinned
    return rec


def summarize(runs: list[dict]) -> dict:
    rec = dict(runs[0])
    rec["build_s"] = round(rec["build_s"], 3)
    rec["action_s"] = round(rec["action_s"], 3)
    rec["first_s"] = round(runs[0]["build_s"] + runs[0]["action_s"], 3)
    total = [r["build_s"] + r["action_s"] for r in runs]
    rec["warm_s"] = round(median(total[1:]), 3) if len(total) > 1 else None
    rec["median_s"] = round(median(total), 3)
    rec["retained_rdds"] = max(r["retained_rdds"] for r in runs)
    return rec


def measure(spark, names: list[str], sf_dir: str, reps: int) -> dict[str, dict]:
    """One record per query name (see the module docstring)."""
    queries = all_queries()
    counters = SparkCounters(spark)
    runs: dict[str, list[dict]] = {name: [] for name in names}
    for rep in range(reps):
        order = list(names)
        random.Random(rep).shuffle(order)
        for name in order:
            runs[name].append(run_once(spark, counters, queries[name], sf_dir))
    return {name: summarize(r) for name, r in runs.items()}


def scale_id(sf_dir: str) -> str:
    """How a report names a scale: relative to ROOT for a directory under
    it, so a baseline recorded in one checkout gates in every other; the
    real path for any other directory. A path counts as under ROOT before
    its symlinks are resolved, so a checkout whose ``localdata`` links into
    another checkout still records ``localdata/sf1``."""
    rel = os.path.relpath(os.path.abspath(sf_dir), ROOT)
    if rel == os.pardir or rel.startswith(os.pardir + os.sep):
        return os.path.realpath(sf_dir)
    return rel


def cost_violations(base: dict, run: dict) -> tuple[list[str], list[str]]:
    """The cost gate: ``(violations, skipped)`` for ``run`` against ``base``
    (both as written by ``--out``). Each scale the run measured is checked
    against the baseline's record of the same scale, in either slot
    (``sf_dir``/``queries``, ``sf_dir2``/``queries2``). ``skipped`` names
    the scales only one of the two measured: their bytes do not compare.

    A baseline query missing from the run is a violation: it may hide the
    very growth the gate is for. A gated counter violates when it grows
    more than MAX_GROWTH×, unless it moved by less than FLOOR_BYTES and is
    still under 4 × FLOOR_BYTES, so the drift it lets through stays under
    16 KiB however small the baseline.
    """
    base_scales, run_scales = _scales(base), _scales(run)
    out = []
    for sf, old_queries in base_scales.items():
        new_queries = run_scales.get(sf)
        if new_queries is None:
            continue
        out += [
            f"{sf}: {name}: in the baseline but missing from the run"
            for name in old_queries if name not in new_queries
        ]
        for name, rec in new_queries.items():
            old = old_queries.get(name)
            if old is None:
                continue
            for key in GATED:
                b, n = old[key], rec[key]
                if abs(n - b) < FLOOR_BYTES and n < 4 * FLOOR_BYTES:
                    continue
                factor = n / max(b, 1)
                if factor > MAX_GROWTH:
                    out.append(f"{sf}: {name}.{key}: {b} -> {n} "
                               f"({factor:.2f}x > {MAX_GROWTH}x)")
    return out, sorted(base_scales.keys() ^ run_scales.keys())


def _scales(report: dict) -> dict[str, dict]:
    # scale_id decides what a recorded path names; normpath only spells it
    # one way, so a hand-edited ``./sf0.1/`` still matches ``sf0.1``
    return {os.path.normpath(report[d]): report[q]
            for d, q in (("sf_dir", "queries"), ("sf_dir2", "queries2")) if d in report}


def load_baseline(ref: str) -> dict:
    if os.path.exists(ref):
        with open(ref) as fh:
            return json.load(fh)
    shown = subprocess.run(
        ["git", "-C", ROOT, "show", f"{ref}:COSTS.json"],
        capture_output=True, text=True,
    )
    if shown.returncode != 0:
        raise ValueError(shown.stderr.strip())
    return json.loads(shown.stdout)


def fmt_bytes(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024:
            return f"{n:.0f}{unit}" if unit == "B" else f"{n:.1f}{unit}"
        n /= 1024
    return f"{n:.1f}TB"


def print_table(sf_dir: str, records: dict[str, dict], growth: dict | None = None) -> None:
    cols = ["query", "first_s", "warm_s", "median_s", "build_jobs", "action_jobs",
            "stages", "tasks", "scan_rows", "scan", "shuffle write", "shuffle read",
            "retained_rdds"] + (["growth"] if growth else [])
    print(f"\n{sf_dir}\n\n| " + " | ".join(cols) + " |\n|" + "---|" * len(cols))
    for name, r in records.items():
        cells = [name, r["first_s"], r["warm_s"], r["median_s"], r["build_jobs"],
                 r["action_jobs"], r["stages"], r["tasks"], r["scan_rows"],
                 fmt_bytes(r["scan_bytes"]), fmt_bytes(r["shuffle_write_bytes"]),
                 fmt_bytes(r["shuffle_read_bytes"]),
                 r["retained_rdds"]] + ([growth[name]] if growth else [])
        print("| " + " | ".join("-" if c is None else str(c) for c in cells) + " |")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        description="Measure registered queries (see the module docstring)."
    )
    p.add_argument("names", nargs="*", metavar="NAME",
                   help="registered queries, or 'all' (default: bench's)")
    p.add_argument("--sf", action="append", metavar="DIR",
                   help="scale directory; give two for the growth ratio")
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--out", metavar="FILE", help="write the records as JSON")
    p.add_argument("--check", metavar="REF",
                   help="baseline JSON file or git ref holding COSTS.json")
    a = p.parse_args(argv)

    sfs = a.sf or [os.environ.get("SPARK_GRAFT_SF_DIR")]
    if sfs[0] is None:
        p.error("give --sf DIR or set SPARK_GRAFT_SF_DIR")
    if len(sfs) > 2:
        p.error("at most two --sf")
    if a.reps < 1:
        p.error("--reps must be at least 1")
    queries = all_queries()
    if a.names == ["all"]:
        names = list(queries)
    elif a.names:
        unknown = [n for n in a.names if n not in queries]
        if unknown:
            p.error(f"not registered: {', '.join(unknown)}")
        names = a.names
    else:
        defaults = bench.HEADLINE + bench.EXTENDED + list(ALSO_GATED)
        names = [n for n in defaults if n in queries]
    base = None
    if a.check:
        try:
            base = load_baseline(a.check)
        except (OSError, ValueError) as e:
            p.error(f"no baseline at {a.check}: {e}")

    spark = session.get_spark(app_name="query")
    spark.sparkContext.setLogLevel("ERROR")
    report = {"sf_dir": scale_id(sfs[0]), "reps": a.reps,
              "queries": measure(spark, names, sfs[0], a.reps)}
    print_table(report["sf_dir"], report["queries"])
    if len(sfs) == 2:
        first, second = report["queries"], measure(spark, names, sfs[1], a.reps)
        report.update(sf_dir2=scale_id(sfs[1]), queries2=second, growth={
            n: round(second[n]["median_s"] / max(first[n]["median_s"], 1e-9), 2)
            for n in names
        })
        print_table(report["sf_dir2"], second, report["growth"])
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    if base is None:
        return 0
    violations, skipped = cost_violations(base, report)
    for sf in skipped:
        print(f"\n{sf}: measured by only one of the run and the baseline: "
              "bytes do not compare, gate skipped")
    if violations:
        print("\ncost gate: shuffle-write or scan bytes grew past "
              f"{MAX_GROWTH}x:\n  " + "\n  ".join(violations))
        return 1
    gated = [sf for sf in _scales(report) if sf not in skipped]
    if gated:
        print(f"\ncost gate: no shuffle-write or scan growth past {MAX_GROWTH}x "
              f"at {', '.join(gated)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

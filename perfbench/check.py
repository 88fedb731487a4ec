"""Output checks, run once per invocation outside the timed loop.

- Oracle-backed registry ops: DuckDB through the repository's own compare
  canon (``tests/oracle.py``); registry ops without an oracle must return
  rows.
- Curation: the PPJoin venue equals the exact-Jaccard venue on the seeded
  corpus (identical by construction).
- Pipelines: every warehouse table written equals its pipeline frame.
- Streams: each streaming answer equals its batch answer.

Each check returns an error string, or ``None`` when the output is right.
"""

from __future__ import annotations

from itertools import zip_longest

from pyspark.sql import DataFrame

from ecommerce_etl_pipeline_spark.llmops import curation
from ecommerce_etl_pipeline_spark.plans import get
from ecommerce_etl_pipeline_spark.sources.io import load_table
from ecommerce_etl_pipeline_spark.streaming import streams
from tests.oracle import assert_oracle_match, canon_rows

from workloads import Ctx, Op


def _same_rows(got: DataFrame, want: DataFrame) -> str | None:
    """Order-insensitive, bit-exact multiset compare (the oracle canon)."""
    g, w = canon_rows(got.toPandas()), canon_rows(want.toPandas())
    if g == w:
        return None
    first = next((a, b) for a, b in zip_longest(g, w) if a != b)
    return f"{len(g)} rows, expected {len(w)}; first difference {first}"


def _ids(df: DataFrame) -> set[int]:
    return {r[0] for r in df.select("doc_id").collect()}


def check_registry(ctx: Ctx, op: Op, out: dict) -> str | None:
    df = out[op.name]
    oracle = get(op.name).oracle
    if oracle is None:
        return None if df.limit(1).count() == 1 else "no rows"
    try:
        assert_oracle_match(df, oracle, ctx.inputs.sf_dir, op.name)
    except AssertionError as e:
        return str(e)[:300]
    return None


def check_curation(ctx: Ctx, op: Op, out: dict) -> str | None:
    docs = load_table(ctx.spark, ctx.inputs.corpus_dir, "documents")
    got = _ids(out["curated"])
    exact = curation.curate(
        docs, lang="unknown", use_minhash=False, use_ppjoin=False,
        classifier_weights=out["weights"],
    )
    want = _ids(exact)
    return None if got == want and got else f"ppjoin kept {len(got)}, exact kept {len(want)}"


def check_pipeline(ctx: Ctx, op: Op, out: dict) -> str | None:
    for table, frame in out.items():
        err = _same_rows(ctx.spark.table(f"pb_{table}"), frame)
        if err:
            return f"pb_{table}: {err}"
    return None


def check_stream(ctx: Ctx, op: Op, out: dict) -> str | None:
    ev = load_table(ctx.spark, ctx.inputs.sf_dir, "events")
    got = out.get("stream")
    if op.name == "st_daily_window":
        return _same_rows(got, streams.daily_sales_stream(ev))
    if op.name == "st_upsert_twice":
        table = out["table"]
        n, keys, want = table.count(), table.select("event_id").distinct().count(), ev.count()
        return None if n == keys == want else f"{n} rows, {keys} keys, {want} events"
    return f"no check for {op.name}"


CHECKS = {
    "registry": check_registry,
    "llmops": check_curation,
    "pipeline": check_pipeline,
    "stream": check_stream,
}


def check(ctx: Ctx, op: Op, out: dict) -> str | None:
    try:
        return CHECKS[op.kind](ctx, op, out)
    except Exception as e:  # noqa: BLE001 - a crashing check is a failed check
        return f"{type(e).__name__}: {str(e)[:300]}"

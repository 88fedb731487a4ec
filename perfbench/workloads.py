"""The benchmark's workloads: one list of operations (ops) each.

An op is one unit a closed-loop client waits on:

- one registry query (build the DataFrame, then run it to the ``noop`` sink);
- one llmops call chain;
- one reference pipeline landing all of its tables;
- one streaming query run to completion.

Every op calls the engine only through its public functions and wraps each
call in a span named after the layer it enters (``build``, ``action``,
``write``, ``trigger``). ``run`` returns the frames the op produced so the
output check can compare them; the timed loop ignores them.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.llmops import classifier, curation, dedup, splits
from ecommerce_etl_pipeline_spark.pipelines import reference
from ecommerce_etl_pipeline_spark.plans import all_queries
from ecommerce_etl_pipeline_spark.plans import llmops_queries as lq
from ecommerce_etl_pipeline_spark.sources.io import load_table, write_table
from ecommerce_etl_pipeline_spark.streaming import streams

from measure import Tracer, record_calls


@dataclass
class Inputs:
    """Directories one pass reads: the star schema (``sf_dir``) and the
    curation corpus (``corpus_dir``, a directory with documents.parquet)."""

    sf_dir: str
    corpus_dir: str


@dataclass
class Ctx:
    spark: SparkSession
    inputs: Inputs
    tr: Tracer
    checkpoint_root: str
    tmp_root: str
    warehouse: str
    #: catalog tables the benchmark created, the ones the current op
    #: wrote, and the memory sinks it left
    tables: set[str] = field(default_factory=set)
    written: list[str] = field(default_factory=list)
    sinks: set[str] = field(default_factory=set)
    #: bound arguments of each dedup.ppjoin_pairs call in a traced pass
    ppjoin_calls: list[dict] = field(default_factory=list)


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # registry | llmops | pipeline | stream
    run: Callable[[Ctx], dict[str, DataFrame]]
    #: input tables a streaming op scans; other ops derive theirs from
    #: the frames they return (DataFrame.inputFiles)
    reads: tuple[str, ...] = ()


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# registry queries

_QUERIES = all_queries()


def registry_op(name: str, reads: tuple[str, ...] = ()) -> Op:
    def run(ctx: Ctx) -> dict[str, DataFrame]:
        with ctx.tr.span("build", "plans", query=name):
            df = _QUERIES[name](ctx.spark, ctx.inputs.sf_dir)
        with ctx.tr.span("action", "spark"):
            noop(df)
        return {name: df}

    return Op(name, "registry", run, reads)


# ---------------------------------------------------------------------------
# llmops call chains over the Zipf corpus


def _train_split(docs: DataFrame) -> DataFrame:
    """The deterministic 80% training split the registry's classifier
    curation queries train on."""
    h = splits.hash_uint32(F.col("doc_id"), lq._CLS_SPLIT_SALT)
    return docs.filter(h < F.lit(lq._CLS_SPLIT_THRESHOLD))


def _classifier_ppjoin(ctx: Ctx) -> dict:
    """dd_curation_classifier_ppjoin's call chain on the Zipf corpus:
    train the hashed linear scorer, then curate with it as the quality
    gate and PPJoin as the near-duplicate candidate generator."""
    docs = load_table(ctx.spark, ctx.inputs.corpus_dir, "documents")
    with ctx.tr.span("build", "llmops.train"):
        w, _feats = classifier.train_linear_scorer(
            _train_split(docs),
            iterations=lq._CLS_ITER,
            lr_num=lq._CLS_LR_NUM,
            lr_den=lq._CLS_LR_DEN,
            features="hashed",
        )
    # a traced pass records what curate hands to PPJoin, so the pairs it
    # generates can be counted after the pass
    watch = record_calls(dedup, "ppjoin_pairs", ctx.ppjoin_calls) if ctx.tr.enabled else nullcontext()
    with ctx.tr.span("build", "llmops.curate"), watch:
        out = curation.curate(
            docs, lang="unknown", use_minhash=False, use_ppjoin=True,
            classifier_weights=w,
        )
    with ctx.tr.span("action", "spark"):
        noop(out)
    return {"curated": out, "weights": w}


# ---------------------------------------------------------------------------
# reference pipelines landing their warehouse tables


def pipeline_op(name: str, fn: Callable[[SparkSession, str], dict[str, DataFrame]]) -> Op:
    def run(ctx: Ctx) -> dict[str, DataFrame]:
        with ctx.tr.span("build", "pipelines", pipeline=name):
            frames = fn(ctx.spark, ctx.inputs.sf_dir)
        for table, df in frames.items():
            target = f"pb_{table}"
            with ctx.tr.span("write", "sources", table=target):
                write_table(df, target)
            ctx.tables.add(target)
            ctx.written.append(target)
        return frames

    return Op(f"pl_{name}", "pipeline", run)


# ---------------------------------------------------------------------------
# streaming twins over the events table


def _clear_stream_state(ctx: Ctx) -> None:
    """Every streaming op starts from an empty checkpoint root, so each
    pass replays the whole events table."""
    shutil.rmtree(ctx.checkpoint_root, ignore_errors=True)
    os.makedirs(ctx.checkpoint_root, exist_ok=True)


def _memory_stream(name: str, make: Callable, mode: str) -> Callable[[Ctx], dict]:
    def run(ctx: Ctx) -> dict[str, DataFrame]:
        _clear_stream_state(ctx)
        sink = f"pb_{name}"
        ctx.spark.catalog.dropTempView(sink)
        with ctx.tr.span("build", "streaming"):
            df = make(streams.read_events_stream(ctx.spark, ctx.inputs.sf_dir))
        with ctx.tr.span("trigger", "streaming", sink=sink):
            streams.stream_to_memory(df, sink, output_mode=mode)
        ctx.sinks.add(sink)
        return {"stream": ctx.spark.table(sink)}

    return run


def _upsert_twice(ctx: Ctx) -> dict[str, DataFrame]:
    table = "pb_events_upsert"
    ctx.spark.sql(f"DROP TABLE IF EXISTS {table}")
    for i in range(2):
        _clear_stream_state(ctx)
        with ctx.tr.span("build", "streaming"):
            ev = streams.read_events_stream(ctx.spark, ctx.inputs.sf_dir).select(
                "event_id", "user_id", "event_type"
            )
        with ctx.tr.span("trigger", "streaming", sink=table, replay=i):
            streams.stream_to_table(ev, table, keys=["event_id"])
    ctx.tables.add(table)
    return {"table": ctx.spark.table(table)}


def stream_op(name: str, run: Callable[[Ctx], dict]) -> Op:
    return Op(name, "stream", run, ("events",))


# ---------------------------------------------------------------------------
# workloads

CURATION = [
    Op("cls_ppjoin_curate", "llmops", _classifier_ppjoin, ("corpus",)),
    registry_op("ml_kmeans_train", ("embeddings",)),
]

INGEST = [
    pipeline_op("sales", reference.sales_pipeline),
    stream_op("st_daily_window", _memory_stream("daily", streams.daily_sales_stream, "complete")),
    stream_op("st_upsert_twice", _upsert_twice),
]

WORKLOADS: dict[str, list[Op]] = {
    "curation": CURATION,
    "ingest": INGEST,
}

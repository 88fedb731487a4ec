"""Structured Streaming variants of the engine's event-time queries.

The reference fakes micro-batches in-process (data_generator.py:83-111) and
names Kafka ingestion as future work (README.md:116); this module is the
real streaming runtime for the same query shapes:

- tumbling-window daily rollup (A1 as a stream) with a watermark for late
  data,
- session windows (the clickstream sessionization w4 as native
  ``session_window``),
- custom stateful per-user running counts via ``applyInPandasWithState``.

Batch/stream parity: transformations are the same DataFrame expressions as
the batch queries, so a ``foreachBatch`` sink can reuse batch writers
verbatim. Tests replay the events table as a file stream with
``availableNow`` and assert the aggregates equal the batch answers.

At scale the file source becomes Kafka (same code after ``readStream``);
state stores are RocksDB-backed and partitioned by the grouping key, so
stateful ops scale with distinct keys per trigger, not history.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # TIMESTAMP(NANOS) read as long
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _replay_path(sf_dir: str, table: str = "events") -> str:
    """File-source path that replays only the table's parquet: a one-name
    glob. The source rejects a plain file path (its base path must be a
    directory) but sets no base path for a glob, so the table streams in
    place with nothing staged to clean up."""
    return f"{sf_dir}/{{{table}}}.parquet"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table as a stream (micro-batch per
    file). The stream's declared schema follows whatever the batch reader
    resolves for this file (nanos-as-long generator versions vs. plain
    micros), so the nanos->micros conversion applies only when needed."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw_batch.dtypes).get("ts") != "bigint":
        raw = spark.readStream.schema(raw_batch.schema).parquet(_replay_path(sf_dir))
        # Watermarks demand TIMESTAMP (LTZ); a micros file resolves as NTZ.
        # Session TZ is pinned UTC, so the cast is value-preserving.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    raw = spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(_replay_path(sf_dir))
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def daily_sales_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """A1 (daily rollup) as a streaming tumbling-window aggregate with
    late-data tolerance = ``watermark``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("day.start").alias("day_start"),
            "event_type",
            "num_events",
            "total_value",
        )
    )


def sliding_window_stream(
    events: DataFrame,
    duration: str = "2 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """w9 (hopping window) as a streaming aggregate: each event lands in
    duration/slide overlapping windows; the watermark bounds how long a
    window's state stays open for late events. State size is
    (open windows x groups), independent of stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "approx_users",
        )
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """w4 sessionization as a native streaming ``session_window`` (state
    merges windows within ``gap`` per user)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("events_in_session"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "events_in_session",
        )
    )


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("total_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("cnt", LongType()), StructField("val", DoubleType())]
)


def user_running_counts_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count/value via
    ``applyInPandasWithState`` — the sanctioned escape hatch when built-in
    windows can't express the state machine (SURVEY §2.12 U4)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cnt, val = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            val += float(pdf["value"].sum())
        state.update((cnt, val))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_events": [cnt], "total_value": [val]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def deduped_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop repeated event_ids in-flight with
    ``dropDuplicatesWithinWatermark`` — state holds one key per event_id
    seen within the watermark horizon and is evicted past it, so state size
    tracks the duplicate-arrival window, not the stream length. The
    streaming face of dd_exact_dedup (at-least-once source -> exactly-once
    facts)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def view_purchase_attribution_stream(
    events: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same user's
    views in the preceding ``window``. Both sides carry watermarks and the
    join has an event-time range constraint — the two things Spark needs to
    BOUND the join state: a view older than (watermark + window) can never
    match a future purchase, so its state row is evicted. Without the time
    bound, stream-stream join state grows with the stream. This is the
    streaming face of the batch as-of/attribution joins (j9), i.e. the
    reference's clickstream->transaction attribution running continuously.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {window}")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "purchase_ts",
        "view_ts",
        "purchase_value",
    )


def stream_to_table(
    df: DataFrame,
    table: str,
    *,
    keys: list[str] | None = None,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> None:
    """``foreachBatch`` sink into the warehouse catalog (the streaming face
    of S6's overwrite-table sink): each micro-batch lands via the batch
    writer, so one sink implementation serves both runtimes. With ``keys``,
    batches upsert-append (left-anti on the key set — S9 semantics,
    idempotent under at-least-once replays); without, they append.
    """
    from ecommerce_etl_pipeline_spark.sources.io import upsert_append

    def sink(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if keys and spark.catalog.tableExists(table):
            target = spark.table(table)
            # localCheckpoint materializes the anti-join so the append no
            # longer reads the table it writes (read-write conflict rule)
            new_rows = upsert_append(target, batch, keys).localCheckpoint(eager=True)
            new_rows.write.mode("append").saveAsTable(table)
        else:
            batch.write.mode("append").saveAsTable(table)

    q = (
        df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def stream_to_memory(
    df: DataFrame, name: str, *, output_mode: str = "complete", timeout_sec: int = 120
) -> StreamingQuery:
    """Run a streaming query to completion over the replayed input
    (availableNow trigger) into an in-memory sink table ``name``; returns
    the query."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def enriched_events_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of events joins a
    static dimension snapshot (broadcast — the stream side never shuffles
    and the join keeps NO state, unlike stream-stream). The streaming face
    of the batch dim joins (J2/J5): continuous fact enrichment against a
    slowly-changing dim; swap ``dim`` for a periodically refreshed view to
    pick up dim updates between triggers.

    ``dim`` must carry a ``user_id`` column; remaining dim columns land on
    each matching event (left join keeps dimension gaps as nulls rather
    than dropping facts).
    """
    return events.join(F.broadcast(dim), "user_id", "left")


def cdc_apply_stream(
    changes: DataFrame,
    snapshot_table: str,
    key_cols: list[str],
    *,
    seq_col: str = "_seq",
    op_col: str = "_op",
    timeout_sec: int = 120,
) -> None:
    """Streaming MERGE materialization — the streaming face of
    operators/cdc.py::apply_changes: a ``foreachBatch`` sink folds each
    change micro-batch into a persistent snapshot table with latest-wins
    semantics that hold even when micro-batches arrive OUT OF ORDER. The
    snapshot keeps every key's last applied (seq, op) — including delete
    TOMBSTONES — so a late-arriving lower-sequence change can never
    regress a key and a post-delete straggler cannot resurrect it; that
    is exactly why tombstones exist in every log-structured store, and
    dropping them is a separate compaction policy decision. Read the
    live view with :func:`cdc_snapshot` (filters tombstones).

    Scale shape per batch: one key shuffle (window rank) over
    snapshot ∪ batch — no join — then an overwrite of the snapshot
    table (localCheckpoint breaks the read-overwrite cycle; on a real
    lakehouse this sink is a Delta/Iceberg MERGE with the same plan).
    """

    def sink(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if spark.catalog.tableExists(snapshot_table):
            cur = spark.table(snapshot_table)
            merged = cur.unionByName(batch)
        else:
            merged = batch
        ranked = merged.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*key_cols).orderBy(
                    F.desc(seq_col), F.desc(op_col)
                )
            ),
        )
        out = ranked.filter(F.col("_rn") == 1).drop("_rn").localCheckpoint(eager=True)
        out.write.mode("overwrite").saveAsTable(snapshot_table)

    checkpoint = tempfile.mkdtemp(prefix="cdc-chk-")
    q = (
        changes.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    # a fresh checkpoint per call, never resumed: drop it once the query
    # is done (a query still running past the timeout keeps it)
    if not q.isActive:
        shutil.rmtree(checkpoint, ignore_errors=True)


def cdc_snapshot(
    spark: SparkSession,
    snapshot_table: str,
    *,
    seq_col: str = "_seq",
    op_col: str = "_op",
):
    """Live view of a :func:`cdc_apply_stream` snapshot: tombstones and
    bookkeeping columns removed (pass the same seq_col/op_col the apply
    used)."""
    t = spark.table(snapshot_table)
    return t.filter(F.col(op_col) != "D").drop(seq_col, op_col)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the documents corpus as a stream — the
    ingest-time face of the curation operators (one micro-batch per file;
    at scale this is the object-store drop folder a crawler writes to)."""
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return spark.readStream.schema(batch.schema).parquet(
        _replay_path(sf_dir, "documents")
    )


def quality_gate_stream(docs: DataFrame, *, threshold: float = 0.5) -> DataFrame:
    """Streaming learned-quality gate — the ingest-time face of the batch
    txt_quality_logit query, applying the SAME scoring expression
    (llmops/text.py::quality_logit_score, shared so the two faces cannot
    drift) to documents as they arrive. Stateless: a narrow scan-side
    projection + filter, no watermark, no state store, no shuffle — the
    shape that keeps a crawler-ingest filter running at line rate however
    large the corpus behind it grows. Emits (doc_id, quality_score, text)
    for documents that clear the threshold.

    The score is ROUNDED (portable_round, 6 digits) before both emission
    and the threshold test — the same boundary rule as the batch query,
    so a document whose raw sigmoid lands inside the rounding half-ulp
    of the threshold cannot pass one face and fail the other."""
    from ecommerce_etl_pipeline_spark.functions.exact_agg import portable_round
    from ecommerce_etl_pipeline_spark.llmops.text import quality_logit_score

    score = portable_round(quality_logit_score(F.col("text")), 6)
    return (
        docs.withColumn("quality_score", score)
        .filter(F.col("quality_score") >= F.lit(threshold))
        .select("doc_id", "quality_score", "text")
    )


def classifier_gate_stream(
    docs: DataFrame, weights_nano: list[int], *, threshold: float = 0.5
) -> DataFrame:
    """Streaming TRAINED-classifier quality gate — the ingest-time face
    of the classifier-gated curation stage (curate(classifier_weights=w),
    the FineWeb production shape: train offline on the frozen split,
    gate the crawler feed with the fitted weights). Applies the SAME
    expression as the batch gate and score_with_weights(features=
    "hashed") — classifier.hashed_score_expr, the integer-nano per-token
    fold, weights baked in as literals — so the three faces cannot
    drift (pinned in tests/test_streaming.py).

    Stateless like quality_gate_stream: one md5 pass per arriving
    document, no watermark, no state store, no shuffle — line rate at
    any corpus size. Emits (doc_id, score, text) for documents the
    scorer predicts at or above ``threshold``. No rounding: the fold
    form is bit-portable by construction (integer bucket sums + exactly
    rounded IEEE head), so the threshold compares identical bits on
    every engine and partitioning."""
    from ecommerce_etl_pipeline_spark.llmops.classifier import hashed_score_expr

    score = hashed_score_expr(
        F.coalesce(F.col("text"), F.lit("")), weights_nano
    )
    return (
        docs.withColumn("score", score)
        .filter(F.col("score") >= F.lit(threshold))
        .select("doc_id", "score", "text")
    )


def decontam_gate_stream(
    docs: DataFrame,
    words: list[int],
    num_bits: int,
    *,
    shingle_k: int = 3,
) -> DataFrame:
    """Streaming eval-contamination screen — the ingest-time face of
    ``llmops/dedup.py::bloom_decontaminate``: the batch-built eval n-gram
    Bloom bitmap rides into the stream as a literal array, and each
    arriving document is flagged if ANY of its k-token n-grams might be
    in the eval set (``F.exists`` over the shingle array — a narrow,
    stateless, shuffle-free expression, so the gate runs at line rate
    with no state store however large the eval benchmark suite grows).

    No false negatives: a document sharing a verbatim n-gram with the
    eval set is ALWAYS flagged. False positives are Bloom-bounded, so
    ``flagged`` is a QUARANTINE signal — route flagged docs to the exact
    batch verify (bloom_decontaminate's semi join), not straight to
    deletion. Emits (doc_id, flagged, text).
    """
    from ecommerce_etl_pipeline_spark.llmops.dedup import shingle_strings
    from ecommerce_etl_pipeline_spark.operators.bloom import might_contain

    flagged = F.coalesce(
        F.exists(
            shingle_strings(F.col("text"), shingle_k),
            lambda g: might_contain(words, num_bits, g),
        ),
        # NULL text has no n-grams, hence cannot be contaminated: flag
        # FALSE, not NULL (exists() propagates the NULL array otherwise)
        F.lit(False),
    )
    return docs.select("doc_id", flagged.alias("flagged"), "text")


def benford_monitor_stream(events: DataFrame) -> DataFrame:
    """Streaming Benford first-digit monitor — the ingest-time face of
    the batch dq_benford_deviation check, pointed at the live event
    ``value`` feed: a running count per first digit, which a dashboard
    (or an alerting foreachBatch sink) turns into observed-vs-expected
    deviation to catch a corrupted or synthetic upstream the moment its
    digit distribution bends. Stateful but with BOUNDED state by
    construction — at most nine running cells regardless of stream
    volume or key skew (contrast the per-user/session streams whose
    state scales with distinct keys) — so it runs at line rate forever.
    Complete-mode output: (digit, n)."""
    from ecommerce_etl_pipeline_spark.functions.scalar import benford_first_digit

    return (
        events.filter(F.col("value") >= 1)
        .select(benford_first_digit(F.col("value")).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ingest_dedup_stream(
    events: DataFrame, seen_index: DataFrame, *, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming incremental-ingestion dedup — the streaming face of
    llmops/dedup.py::incremental_dedup: (1) a stream-static LEFT ANTI join
    drops events whose ``event_id`` is already in the persisted ingestion
    index (broadcast snapshot, zero state, stream never shuffles); (2)
    ``dropDuplicatesWithinWatermark`` removes in-flight duplicates within
    the watermark horizon — the arrivals the static snapshot cannot know
    about yet. State holds one key per NEW event inside the horizon;
    the historical corpus lives in the index table, not in stream state —
    that split is what keeps this viable when the index is petabyte-class
    and the horizon is an hour.
    """
    fresh = events.join(
        F.broadcast(seen_index.select("event_id")), "event_id", "left_anti"
    )
    return fresh.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the embeddings table as a stream (micro-batch
    per file) — the arrival feed for :func:`ann_index_stream`."""
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    return spark.readStream.schema(schema).parquet(
        _replay_path(sf_dir, "embeddings")
    )


def ann_index_stream(
    vectors: DataFrame,
    seeds: DataFrame,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Streaming ANN index ingestion — the write-side face of
    ``ivfpq_topk``'s fused index pass applied at line rate: each arriving
    (vec_id, embedding) row gets its coarse IVF cell (assign_to_seeds,
    ties to the lowest cid) and its m PQ codes (pq_encode): the same two
    kernels the batch index build inside ivfpq_topk runs, so a streamed
    row codes exactly as the batch pass codes it (pinned in
    tests/test_streaming.py). STATELESS by construction:
    every row is independent (no aggregation, no watermark, the static
    side is hyperparameter-sized driver state), so the stream runs at
    line rate forever and the index table stays append-only — new vectors
    become searchable by the NEXT ``ivfpq``/ADC query scan without a
    batch index rebuild, which at 100 TB is the difference between
    index freshness in seconds and an O(corpus) recompute. Quantizer
    refresh (retraining cells/codebooks on drifted data) remains a batch
    job by design — exactly how production IVF systems (the FAISS
    lineage) separate ingest from training. Output: (vec_id, cell,
    _pq0.._pq{m-1})."""
    from ecommerce_etl_pipeline_spark.llmops.clustering import assign_to_seeds
    from ecommerce_etl_pipeline_spark.llmops.similarity import pq_encode

    assigned = assign_to_seeds(vectors, seeds).select(
        F.col("id").alias("vec_id"),
        F.col("cluster").alias("cell"),
        F.col("vec"),
    )
    m = len(codebooks)
    return pq_encode(assigned, codebooks, vec_col="vec").select(
        "vec_id", "cell", *[f"_pq{j}" for j in range(m)]
    )

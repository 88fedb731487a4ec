"""Streaming/batch parity: the streamed aggregates over a replayed events
table must equal the equivalent batch answers."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from ecommerce_etl_pipeline_spark.sources.io import load_table
from ecommerce_etl_pipeline_spark.streaming import (
    daily_sales_stream,
    read_events_stream,
    session_window_stream,
    stream_to_memory,
    user_running_counts_stream,
)

SF = "/root/testdata/sf0.001"


def test_daily_sales_stream_matches_batch(spark):
    ev = read_events_stream(spark, SF)
    stream_to_memory(daily_sales_stream(ev), "t_daily")
    got = {
        (r.day_start, r.event_type): (r.num_events, round(r.total_value, 2))
        for r in spark.table("t_daily").collect()
    }
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 day").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
        )
        .select(F.col("day.start").alias("s"), "event_type", "n", "v")
    )
    want = {(r.s, r.event_type): (r.n, round(r.v, 2)) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_session_window_stream_runs(spark):
    ev = read_events_stream(spark, SF)
    stream_to_memory(session_window_stream(ev), "t_sess")
    rows = spark.table("t_sess").collect()
    assert len(rows) > 0
    # session totals must account for every event
    assert sum(r.events_in_session for r in rows) == load_table(spark, SF, "events").count()


def test_stateful_streams_stable_across_shuffle_partitions(spark):
    """Structured Streaming has no AQE: a stateful stream runs exactly
    spark.sql.shuffle.partitions state-store tasks, frozen into its
    checkpoint. The answers must not depend on that count. Each run gets
    its own query name and no checkpointLocation, so it starts from a
    fresh temporary checkpoint."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for make in (daily_sales_stream, session_window_stream):
            answers = {}
            for n in (1, 8, 32):
                spark.conf.set("spark.sql.shuffle.partitions", str(n))
                name = f"t_parts_{make.__name__}_{n}"
                q = stream_to_memory(make(read_events_stream(spark, SF)), name)
                (state,) = q.lastProgress["stateOperators"]
                assert state["numShufflePartitions"] == n
                answers[n] = sorted(tuple(r) for r in spark.table(name).collect())
                spark.catalog.dropTempView(name)
            assert answers[1], make.__name__
            assert answers[1] == answers[8] == answers[32], make.__name__
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_streaming_sinks_leave_no_staging_dirs(spark, tmp_path, monkeypatch):
    """Replaying a table as a stream and the memory, table and CDC sinks
    leave nothing in the temp dir once their queries have terminated."""
    import tempfile

    from ecommerce_etl_pipeline_spark.streaming import cdc_apply_stream
    from ecommerce_etl_pipeline_spark.streaming.streams import stream_to_table

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = read_events_stream(spark, SF)
    stream_to_memory(ev, "t_nostage", output_mode="append")
    spark.catalog.dropTempView("t_nostage")
    spark.sql("DROP TABLE IF EXISTS t_nostage_tbl")
    stream_to_table(read_events_stream(spark, SF).select("event_id"), "t_nostage_tbl")
    spark.sql("DROP TABLE t_nostage_tbl")
    spark.sql("DROP TABLE IF EXISTS t_nostage_cdc")
    changes = read_events_stream(spark, SF).select(
        F.col("event_id").alias("k"),
        F.lit(1).cast("long").alias("_seq"),
        F.lit("I").alias("_op"),
    )
    cdc_apply_stream(changes, "t_nostage_cdc", ["k"])
    spark.sql("DROP TABLE t_nostage_cdc")
    assert os.listdir(tmp_path) == []


def test_stateful_running_counts(spark):
    ev = read_events_stream(spark, SF)
    stream_to_memory(user_running_counts_stream(ev), "t_run", output_mode="update")
    got = {r.user_id: r.total_events for r in spark.table("t_run").collect()}
    want = {
        r.user_id: r.n
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # single availableNow batch => final state equals batch counts
    assert got == want


def test_streaming_dedup(spark):
    from ecommerce_etl_pipeline_spark.streaming import deduped_events_stream

    ev = read_events_stream(spark, SF)
    stream_to_memory(deduped_events_stream(ev), "t_dedup", output_mode="append")
    rows = spark.table("t_dedup").collect()
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids))  # no duplicate survives
    # equals batch-side exact dedup cardinality
    want = load_table(spark, SF, "events").select("event_id").distinct().count()
    assert len(ids) == want


def test_foreach_batch_table_sink_idempotent(spark, tmp_path):
    from ecommerce_etl_pipeline_spark.streaming import deduped_events_stream
    from ecommerce_etl_pipeline_spark.streaming.streams import stream_to_table

    spark.sql("DROP TABLE IF EXISTS t_sink")
    ev = read_events_stream(spark, SF).select("event_id", "user_id", "event_type")
    stream_to_table(ev, "t_sink", keys=["event_id"])
    n1 = spark.table("t_sink").count()
    assert n1 == load_table(spark, SF, "events").count()
    # replay the whole stream again: upsert keys make it a no-op
    ev2 = read_events_stream(spark, SF).select("event_id", "user_id", "event_type")
    stream_to_table(ev2, "t_sink", keys=["event_id"])
    assert spark.table("t_sink").count() == n1
    spark.sql("DROP TABLE t_sink")


def test_view_purchase_attribution_stream_matches_batch(spark):
    from ecommerce_etl_pipeline_spark.streaming import view_purchase_attribution_stream

    ev = read_events_stream(spark, SF)
    stream_to_memory(
        view_purchase_attribution_stream(ev), "t_attr", output_mode="append"
    )
    got = {
        (r.purchase_id, r.view_id) for r in spark.table("t_attr").collect()
    }
    batch = load_table(spark, SF, "events")
    views = batch.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    purchases = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    want = {
        (r.purchase_id, r.view_id)
        for r in views.join(
            purchases,
            (F.col("vu") == F.col("pu"))
            & (F.col("vts") <= F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_sliding_window_stream_matches_batch(spark):
    from ecommerce_etl_pipeline_spark.streaming import sliding_window_stream

    ev = read_events_stream(spark, SF)
    stream_to_memory(sliding_window_stream(ev), "t_slide")
    got = {
        (r.window_start, r.window_end): r.n_events
        for r in spark.table("t_slide").collect()
    }
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    want = {(r.s, r.e): r.n for r in batch.collect()}
    assert got == want and len(got) > 0


def test_enriched_events_stream_matches_batch(spark):
    from ecommerce_etl_pipeline_spark.sources.io import load_table
    from ecommerce_etl_pipeline_spark.streaming.streams import (
        enriched_events_stream,
        read_events_stream,
        stream_to_memory,
    )

    dim = (
        load_table(spark, SF, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    ev = read_events_stream(spark, SF)
    stream_to_memory(enriched_events_stream(ev, dim), "enriched_mem", output_mode="append")
    got = spark.table("enriched_mem")
    batch_ev = load_table(spark, SF, "events")
    expect = batch_ev.join(dim, "user_id", "left")
    assert got.count() == batch_ev.count()  # left join never drops facts
    g = {r.event_id: r.segment for r in got.select("event_id", "segment").collect()}
    e = {r.event_id: r.segment for r in expect.select("event_id", "segment").collect()}
    assert g == e


def test_ingest_dedup_stream_matches_batch(spark):
    """Stream-static anti-join against the persisted ingestion index plus
    in-flight watermark dedup must equal the batch incremental dedup."""
    from ecommerce_etl_pipeline_spark.streaming import ingest_dedup_stream

    events = load_table(spark, SF, "events")
    # pretend events with event_id % 3 == 0 were ingested on a prior day
    seen = events.filter(F.col("event_id") % 3 == 0).select("event_id")
    ev = read_events_stream(spark, SF)
    stream_to_memory(
        ingest_dedup_stream(ev, seen), "t_ingest_dedup", output_mode="append"
    )
    got = sorted(r.event_id for r in spark.table("t_ingest_dedup").collect())
    want = sorted(
        r.event_id
        for r in events.join(seen, "event_id", "left_anti")
        .select("event_id")
        .distinct()
        .collect()
    )
    assert got == want and len(got) > 0


def test_quality_gate_stream_matches_batch(spark):
    """Streaming ingest quality gate = batch txt_quality_logit on the same
    corpus: identical surviving doc set and identical scores (shared
    scoring expression — parity here proves the two faces can't drift)."""
    from ecommerce_etl_pipeline_spark.plans.registry import get
    from ecommerce_etl_pipeline_spark.streaming import (
        quality_gate_stream,
        read_documents_stream,
    )

    docs = read_documents_stream(spark, SF)
    stream_to_memory(quality_gate_stream(docs), "t_quality_gate", output_mode="append")
    got = {
        r.doc_id: round(r.quality_score, 6)
        for r in spark.table("t_quality_gate").collect()
    }
    batch = get("txt_quality_logit").fn(spark, SF).filter("keep").collect()
    want = {r.doc_id: r.quality_score for r in batch}
    assert len(got) > 0
    assert set(got) == set(want)
    assert all(abs(got[d] - want[d]) < 1e-6 for d in got)


def test_classifier_gate_stream_matches_batch_scorer(spark):
    """Streaming trained-classifier gate = batch
    score_with_weights(features="hashed") on the same corpus: identical
    surviving doc set and BIT-identical scores. All faces evaluate
    classifier.hashed_score_expr (the integer-nano fold), so the pin is
    exact equality, not tolerance — the train-offline/gate-at-ingest
    FineWeb shape cannot drift between its batch and streaming faces."""
    from ecommerce_etl_pipeline_spark.llmops import classifier
    from ecommerce_etl_pipeline_spark.sources.io import load_table
    from ecommerce_etl_pipeline_spark.streaming import (
        classifier_gate_stream,
        read_documents_stream,
    )

    batch_docs = load_table(spark, SF, "documents")
    w, _ = classifier.train_linear_scorer(
        batch_docs, iterations=3, features="hashed"
    )

    docs = read_documents_stream(spark, SF)
    stream_to_memory(
        classifier_gate_stream(docs, w), "t_classifier_gate", output_mode="append"
    )
    got = {r.doc_id: r.score for r in spark.table("t_classifier_gate").collect()}

    scored = classifier.score_with_weights(batch_docs, w, features="hashed")
    want = {
        r.doc_id: r.score
        for r in scored.filter("predicted = 1").select("doc_id", "score").collect()
    }
    assert len(got) > 0
    assert got == want  # exact: same expression, same literals, same bits


def test_calibration_derived_threshold_three_faces(spark):
    """Close the calibration loop (VERDICT r9 brief #6): derive a NON-0.5
    operating threshold from the trained scorer's reliability bins (the
    ml_logreg_calibration recipe: decile-bin the predicted score, read
    each bin's empirical positive rate; the operating point is the lower
    edge of the lowest above-midpoint decile clearing the target
    precision) and pin the THREE faces at that threshold:

    1. batch scorer   — score_with_weights(...).filter(score >= thr)
    2. streaming gate — classifier_gate_stream(..., threshold=thr)
    3. batch curation — curate(classifier_weights=w,
                               classifier_threshold=thr)

    Faces 1 and 2 must agree bit-exactly on (survivor set, score); face
    3 must keep exactly the documents that running the SAME curate()
    pipeline over face 1's survivors keeps (the max_punct_ratio=inf
    replay trick from test_pipelines, so exact dedup + jaccard pairs +
    components are exercised identically downstream of the gate)."""
    from ecommerce_etl_pipeline_spark.llmops import classifier, curation
    from ecommerce_etl_pipeline_spark.sources.io import load_table
    from ecommerce_etl_pipeline_spark.streaming import (
        classifier_gate_stream,
        read_documents_stream,
    )

    docs = load_table(spark, SF, "documents")
    w, _ = classifier.train_linear_scorer(
        docs, iterations=3, features="hashed"
    )

    scored = classifier.score_with_weights(docs, w, features="hashed")
    bins = (
        scored.groupBy(F.floor(F.col("score") * 10).cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("y").alias("frac_pos"))
        .collect()
    )
    ok = sorted(
        r["bin"] for r in bins if r["bin"] > 5 and r["frac_pos"] >= 0.9
    )
    assert ok, (
        "no above-midpoint reliability bin clears 0.9 precision — "
        "degenerate fixture draw for the calibration-threshold test"
    )
    thr = ok[0] / 10.0
    assert thr != 0.5  # the point: a calibration-DERIVED operating point

    # face 1: batch scorer at thr (bit-exact reference)
    want = {
        (r.doc_id, r.score)
        for r in scored.filter(F.col("score") >= F.lit(thr))
        .select("doc_id", "score")
        .collect()
    }
    assert want, "threshold kept zero documents — degenerate fixture"

    # face 2: streaming gate at the same thr — identical set AND bits
    stream_to_memory(
        classifier_gate_stream(
            read_documents_stream(spark, SF), w, threshold=thr
        ),
        "t_cls_gate_thr",
        output_mode="append",
    )
    got_stream = {
        (r.doc_id, r.score) for r in spark.table("t_cls_gate_thr").collect()
    }
    assert got_stream == want

    # face 3: curate at thr == curate replayed over face 1's survivors
    gated = curation.curate(
        docs,
        use_minhash=False,
        classifier_weights=w,
        classifier_threshold=thr,
    )
    got = {r["doc_id"] for r in gated.collect()}
    pre = scored.filter(F.col("score") >= F.lit(thr)).select("doc_id", "text")
    replay = curation.curate(
        pre, use_minhash=False, max_punct_ratio=float("inf")
    )
    want_curate = {r["doc_id"] for r in replay.collect()}
    assert got == want_curate


def test_decontam_gate_stream_no_false_negatives_and_batch_parity(spark):
    """Streaming bloom decontamination screen: (1) every document the
    EXACT batch decontaminate flags is flagged in-stream (no false
    negatives — the safety property quarantine depends on); (2) the
    stream's flag set equals the same bloom expression evaluated batch-
    side (the two faces share bitmap + expression, so they cannot
    drift)."""
    from ecommerce_etl_pipeline_spark.llmops.dedup import (
        bloom_decontaminate,
        shingle_strings,
    )
    from ecommerce_etl_pipeline_spark.operators.bloom import (
        build_bloom_bitmap,
        might_contain,
    )
    from ecommerce_etl_pipeline_spark.sources.io import load_table
    from ecommerce_etl_pipeline_spark.streaming import (
        decontam_gate_stream,
        read_documents_stream,
    )

    docs = load_table(spark, SF, "documents")
    ev = docs.filter(F.col("source") == "src0")
    ev_grams = ev.select(
        F.explode(shingle_strings(F.col("text"), 3)).alias("g")
    ).distinct()
    words, num_bits = build_bloom_bitmap(
        ev_grams, "g", expected_items=max(ev_grams.count(), 1)
    )

    stream = decontam_gate_stream(read_documents_stream(spark, SF), words, num_bits)
    stream_to_memory(stream, "t_decontam_gate", output_mode="append")
    got_flagged = {
        r.doc_id for r in spark.table("t_decontam_gate").collect() if r.flagged
    }

    train = docs.filter(F.col("source") != "src0")
    exact_res = bloom_decontaminate(train, ev)
    exact = {r.train_id for r in exact_res.collect()}
    # exact contaminated train docs are a subset of the stream's flags
    # (the stream also flags eval docs themselves + bounded FPs)
    assert exact, "fixture should contain cross-source n-gram overlap"
    assert exact <= got_flagged
    # batch-side evaluation of the same expression = stream output
    batch_flagged = {
        r.doc_id
        for r in docs.filter(
            F.exists(
                shingle_strings(F.col("text"), 3),
                lambda g: might_contain(words, num_bits, g),
            )
        ).collect()
    }
    assert got_flagged == batch_flagged


def test_benford_monitor_stream_matches_batch(spark):
    """The streaming Benford monitor's final running counts equal the
    batch computation of the SAME shared digit expression
    (benford_first_digit — also the dq_benford_deviation extraction), and
    the state is bounded: at most nine digit cells."""
    from ecommerce_etl_pipeline_spark.functions.scalar import benford_first_digit
    from ecommerce_etl_pipeline_spark.streaming.streams import benford_monitor_stream

    ev = read_events_stream(spark, SF)
    stream_to_memory(benford_monitor_stream(ev), "t_benford")
    got = {r.digit: r.n for r in spark.table("t_benford").collect()}

    batch = (
        load_table(spark, SF, "events")
        .filter(F.col("value") >= 1)
        .select(benford_first_digit(F.col("value")).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {r.digit: r.n for r in batch.collect()}
    assert got == want and len(got) > 0
    assert set(got) <= set(range(1, 10))


def test_ann_index_stream_matches_batch_index_pass(spark):
    """The streaming ANN-index ingestion face (ann_index_stream) emits,
    for every replayed vector, EXACTLY the (cell, PQ codes) row the batch
    index pass (assign_to_seeds + pq_encode — the ivfpq_topk write side)
    produces. Stateless: no aggregation state, so the plan needs no
    watermark and runs in append mode."""
    from ecommerce_etl_pipeline_spark.llmops.clustering import (
        assign_to_seeds,
        kmeans_train_portable,
    )
    from ecommerce_etl_pipeline_spark.llmops.similarity import pq_encode, pq_train
    from ecommerce_etl_pipeline_spark.streaming.streams import (
        ann_index_stream,
        read_embeddings_stream,
    )

    emb = load_table(spark, SF, "embeddings")
    books = pq_train(emb, m=8, k=16, max_iterations=3)
    centroids = kmeans_train_portable(emb, k=8, iterations=3)
    seeds = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cid INT, cvec ARRAY<DOUBLE>"
    )

    stream = ann_index_stream(read_embeddings_stream(spark, SF), seeds, books)
    stream_to_memory(stream, "t_ann_index", output_mode="append")
    got = {
        r["vec_id"]: (r["cell"],) + tuple(r[f"_pq{j}"] for j in range(8))
        for r in spark.table("t_ann_index").collect()
    }

    batch = pq_encode(
        assign_to_seeds(emb, seeds).select(
            F.col("id").alias("vec_id"), F.col("cluster").alias("cell"), F.col("vec")
        ),
        books,
        vec_col="vec",
    ).select("vec_id", "cell", *[f"_pq{j}" for j in range(8)])
    want = {
        r["vec_id"]: (r["cell"],) + tuple(r[f"_pq{j}"] for j in range(8))
        for r in batch.collect()
    }
    assert len(got) == len(want) > 0
    assert got == want

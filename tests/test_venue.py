"""The bounded driver-venue probe (operators/venue.py): each operator's row
budget sits exactly where its constant puts it, every call probes once,
and every decision is logged."""

from __future__ import annotations

import logging
from typing import Callable, NamedTuple

import pytest

from ecommerce_etl_pipeline_spark.llmops import bpe, classifier, clustering
from ecommerce_etl_pipeline_spark.operators import graph, venue


def _cc(spark, n):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc1 LONG, doc2 LONG"
    )
    clustering.connected_components(pairs)


def _kmeans(spark, n):
    pts = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(n)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    clustering.kmeans_train_portable(pts, k=2, iterations=1)


def _gd(spark, n):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(1 + 2 * i))) for i in range(n)],
        "doc_id LONG, text STRING",
    )
    classifier.train_linear_scorer(docs, iterations=1)


def _pagerank(symmetric):
    def run(spark, n):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src LONG, dst LONG"
        )
        graph.pagerank_portable(edges, iterations=1, symmetric=symmetric)

    return run


def _bpe(spark, n):
    docs = spark.createDataFrame(
        [(1, " ".join(f"ab{j}" for j in range(n)))], "doc_id LONG, text STRING"
    )
    bpe.bpe_train(docs, num_merges=1)


class Case(NamedTuple):
    name: str
    budget: tuple  # (module, constant, patched value)
    loop: tuple  # (module, driver-venue function)
    rows: int  # the row budget the patched constant must give
    run: Callable


CASES = [
    Case("connected_components", (clustering, "SMALL_GRAPH_EDGES", 7),
         (clustering, "_union_find_components"), 3, _cc),
    # dim 2: 5 rows are 10 cells, 6 rows 12 > 11
    Case("kmeans_train_portable", (venue, "DRIVER_CELLS", 11),
         (clustering, "_driver_kmeans_loop_portable"), 5, _kmeans),
    # d = 5 quality features + label: 29 // 6
    Case("train_linear_scorer", (venue, "DRIVER_CELLS", 29),
         (classifier, "_driver_gd_loop"), 4, _gd),
    Case("pagerank_portable", (graph, "DRIVER_EDGE_ROWS", 5),
         (graph, "_driver_rank_loop_portable"), 5, _pagerank(False)),
    Case("pagerank_portable_symmetric", (graph, "DRIVER_EDGE_ROWS", 5),
         (graph, "_driver_rank_loop_portable"), 2, _pagerank(True)),
    Case("bpe_train", (bpe, "DRIVER_VOCAB_ROWS", 3),
         (bpe, "_driver_train"), 3, _bpe),
]


@pytest.mark.parametrize("case", CASES, ids=[c.name for c in CASES])
def test_budget_edge_picks_venue(spark, monkeypatch, case):
    """An input exactly at the budget takes the driver venue, one row more
    takes the distributed one, and each operator call probes once."""
    monkeypatch.setattr(*case.budget)
    loop_mod, loop_name = case.loop
    real_loop, real_probe = getattr(loop_mod, loop_name), venue.driver_rows
    loops, probes = [], []

    def loop_spy(*args, **kwargs):
        loops.append(1)
        return real_loop(*args, **kwargs)

    def probe_spy(*args, **kwargs):
        probes.append(1)
        return real_probe(*args, **kwargs)

    monkeypatch.setattr(loop_mod, loop_name, loop_spy)
    monkeypatch.setattr(venue, "driver_rows", probe_spy)
    for n, on_driver in ((case.rows, True), (case.rows + 1, False)):
        loops.clear()
        probes.clear()
        case.run(spark, n)
        assert probes == [1], (n, probes)
        assert bool(loops) == on_driver, (n, loops)


def test_driver_rows_logs_each_decision(spark, caplog):
    df = spark.range(3)
    with caplog.at_level(logging.DEBUG, logger=venue.__name__):
        assert len(venue.driver_rows(df, 3, "op_fits")) == 3
        assert venue.driver_rows(df, 2, "op_over") is None
        assert venue.driver_rows(df, 0, "op_off") is None
    assert [r.getMessage() for r in caplog.records if r.name == venue.__name__] == [
        "op_fits: probed 3 rows, budget 3 rows; venue=driver",
        "op_over: probed 3 rows, budget 2 rows; venue=distributed",
        "op_off: driver venue disabled (budget 0 rows); venue=distributed",
    ]


def test_kmeans_under_budget_runs_one_job(spark, sf_dir):
    """Under budget, kmeans_train_portable takes its seeds from the probe:
    the whole call is one Spark job (a separate seed query made it two)."""
    from ecommerce_etl_pipeline_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    group = "kmeans-under-budget"
    sc.setJobGroup(group, group)
    try:
        clustering.kmeans_train_portable(emb, k=4, iterations=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

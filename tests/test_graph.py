"""PageRank DataFrame loop vs a pure-Python reference replay, plus the
structural invariants (mass conservation, symmetry, dangling handling)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.operators import caches


def _ref_pagerank(edges, damping=0.85, iterations=10):
    edges = sorted(set(edges))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        recv = {v: 0.0 for v in nodes}
        for a, b in edges:
            recv[b] += rank[a] / out[a]
        dm = sum(rank[v] for v in nodes if v not in out)
        rank = {
            v: (1 - damping) / n + damping * (recv[v] + dm / n) for v in nodes
        }
    return rank


def _ref_pagerank_portable(edges, iterations=6, scale=10**12):
    """Exact integer replay of operators/graph.py::pagerank_portable —
    equality is EXACT (==), not tolerance-based: integer arithmetic has no
    FP order sensitivity, which is what makes g1 oracle-checkable."""
    edges = sorted(set(edges))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    n = len(nodes)
    rank = {v: scale // n for v in nodes}
    base = (15 * scale) // (100 * n)
    for _ in range(iterations):
        recv = {v: 0 for v in nodes}
        for a, b in edges:
            recv[b] += (85 * rank[a]) // (100 * out[a])
        dm = sum(rank[v] for v in nodes if v not in out)
        rank = {v: base + recv[v] + (85 * dm) // (100 * n) for v in nodes}
    return rank


def test_pagerank_portable_exact_integer_parity(spark, distributed_venue):
    """Both venues — the driver numpy loop (default for a graph this
    small) and the distributed DataFrame loop (forced with
    distributed_venue) — must match the pure-Python reference BIT-EXACTLY: integer
    arithmetic is order-independent, so the venue pick can never change a
    rank."""
    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    # includes a dangling sink to exercise the integer redistribution path
    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (3, 4), (2, 1)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    want = _ref_pagerank_portable(edges)

    # the distributed venue persists its graph frames and the driver venue
    # persists none, so each scope's list shows which venue ran
    with caches.scope() as owned:
        res = pagerank_portable(df, iterations=6)  # driver venue (fits budget)
        got = {r["node"]: r["rank"] for r in res.collect()}
    assert owned == []
    assert got == want  # bit-exact, every node

    with distributed_venue(), caches.scope() as owned_d:
        res_d = pagerank_portable(df, iterations=6)
        got_d = {r["node"]: r["rank"] for r in res_d.collect()}
    assert owned_d != []
    assert got_d == want  # distributed venue: identical


def test_pagerank_portable_tracks_fp_variant(spark):
    """Picoranks / 1e12 track the float PageRank of the pure-Python
    reference within 1e-9 (each round truncates by at most deg/scale), on
    a symmetric clique (uniform ranks) and on a graph with a dangling sink
    (uniform redistribution of its mass); total mass stays 1 within 1e-9."""
    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    # 4 is a dangling sink; 1-2-3 form a cycle feeding it
    dangling = [(1, 2), (2, 3), (3, 1), (1, 4), (3, 4)]
    for edges in (clique, dangling):
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        res = pagerank_portable(df, iterations=10)
        got = {r["node"]: r["rank"] / 1e12 for r in res.collect()}
        want = _ref_pagerank(edges, iterations=10)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, (edges, v, got[v], want[v])
        assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(abs(r - 0.25) < 1e-12 for r in _ref_pagerank(clique).values())


def test_pagerank_portable_symmetric_all_venues_identical(spark, distributed_venue):
    """symmetric=True over canonical (src < dst) undirected edges must be
    bit-identical to the directed form over forward+reversed, in BOTH
    venues (driver mirror via int64 concat; distributed mirror via
    union feeding _prep_graph's distinct)."""
    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 5)]
    directed = und + [(b, a) for a, b in und]
    want = _ref_pagerank_portable(directed)

    fwd = spark.createDataFrame(und, "src LONG, dst LONG")
    with caches.scope() as owned:
        res = pagerank_portable(fwd, iterations=6, symmetric=True)  # driver venue
        got = {r["node"]: r["rank"] for r in res.collect()}
    assert owned == []
    assert got == want

    with distributed_venue(), caches.scope() as owned_d:
        res_d = pagerank_portable(fwd, iterations=6, symmetric=True)
        got_d = {r["node"]: r["rank"] for r in res_d.collect()}
    assert owned_d != []
    assert got_d == want

    # and the plain directed call agrees too
    res_dir = pagerank_portable(
        spark.createDataFrame(directed, "src LONG, dst LONG"), iterations=6
    )
    assert {r["node"]: r["rank"] for r in res_dir.collect()} == want


def test_pagerank_portable_symmetric_rejects_noncanonical(spark, distributed_venue):
    """Reversed duplicates or self-loops under symmetric=True would
    double-count contributions after mirroring — the driver venue must
    refuse rather than silently corrupt ranks."""
    import pytest

    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    bad = spark.createDataFrame([(1, 2), (2, 1)], "src LONG, dst LONG")
    with pytest.raises(ValueError, match="canonical"):
        pagerank_portable(bad, symmetric=True)
    loops = spark.createDataFrame([(1, 2), (3, 3)], "src LONG, dst LONG")
    with pytest.raises(ValueError, match="canonical"):
        pagerank_portable(loops, symmetric=True)
    # the distributed venue (over-budget path) must refuse the same inputs
    # it would otherwise silently double-count post-mirror
    with distributed_venue(), pytest.raises(ValueError, match="canonical"):
        pagerank_portable(bad, symmetric=True)
    with distributed_venue(), pytest.raises(ValueError, match="canonical"):
        pagerank_portable(loops, symmetric=True)


def test_driver_loop_bincount_scatter_is_bit_exact():
    """The float64 bincount scatter-add must equal the int64 np.add.at
    scatter bit-for-bit on a dense random graph — every partial sum is
    below 2^53 so float64 accumulation never rounds (the claim the
    driver-loop fast path rests on)."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 5000
    m = 200_000
    si = rng.integers(0, n, m)
    di = rng.integers(0, n, m)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    r = rng.integers(1, 10**12 // n, n, dtype=np.int64)
    contrib = (85 * r[si]) // (100 * np.maximum(deg[si], 1))
    exact = np.zeros(n, dtype=np.int64)
    np.add.at(exact, di, contrib)
    fast = np.bincount(
        di, weights=contrib.astype(np.float64), minlength=n
    ).astype(np.int64)
    assert (exact == fast).all()

def test_pagerank_portable_dedupes_raw_input_in_driver_venue(spark):
    """The venue probe collects RAW rows (no distinct shuffle); the
    driver-side drop_duplicates must make a duplicated edge list
    bit-identical to the clean one, in both directed and symmetric form."""
    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    dup = und * 3
    clean = pagerank_portable(
        spark.createDataFrame(und, "src LONG, dst LONG"),
        iterations=4, symmetric=True,
    ).collect()
    dirty = pagerank_portable(
        spark.createDataFrame(dup, "src LONG, dst LONG"),
        iterations=4, symmetric=True,
    ).collect()
    key = lambda rows: {r["node"]: r["rank"] for r in rows}
    assert key(clean) == key(dirty)

    directed = und + [(b, a) for a, b in und]
    clean_d = pagerank_portable(
        spark.createDataFrame(directed, "src LONG, dst LONG"), iterations=4
    ).collect()
    dirty_d = pagerank_portable(
        spark.createDataFrame(directed * 2, "src LONG, dst LONG"), iterations=4
    ).collect()
    assert key(clean_d) == key(dirty_d) == key(clean)

def test_pagerank_portable_symmetric_rejects_null_endpoints_both_venues(spark, distributed_venue):
    """A NULL endpoint is non-canonical (src < dst is not TRUE) — both
    venues must refuse it identically; the distributed guard must be
    NULL-aware (a plain src >= dst filter lets NULLs through)."""
    import pytest

    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    nulled = spark.createDataFrame([(1, 2), (2, 3), (1, None)], "src LONG, dst LONG")
    with pytest.raises(ValueError, match="canonical"):
        pagerank_portable(nulled, symmetric=True)  # driver venue
    with distributed_venue(), pytest.raises(ValueError, match="canonical"):
        pagerank_portable(nulled, symmetric=True)


def test_pagerank_empty_and_single_node_graphs(spark, distributed_venue):
    """n = 0 must return an empty (node, rank) frame in every venue (was a
    ZeroDivisionError in the distributed paths); a single self-edge node
    keeps the whole rank mass."""
    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    empty = spark.createDataFrame([], "src LONG, dst LONG")
    with distributed_venue():
        empty_dist = pagerank_portable(empty)
    for out in (
        pagerank_portable(empty),
        empty_dist,
        pagerank_portable(
            spark.createDataFrame([], "src STRING, dst STRING")
        ),  # non-integral ids skip the driver venue entirely
    ):
        assert out.columns == ["node", "rank"]
        assert out.count() == 0

    single = spark.createDataFrame([(7, 7)], "src LONG, dst LONG")
    rows = pagerank_portable(single, iterations=3).collect()
    assert len(rows) == 1 and rows[0]["node"] == 7
    assert rows[0]["rank"] >= 10**12 - 10  # all mass, minus truncation


def test_pagerank_portable_nonlong_and_null_ids_match_distributed(spark, distributed_venue):
    """Driver venue must preserve the input id type, and NULL endpoints in
    directed mode must take the distributed venue (NULL = dangling node id)
    rather than crash on NaN indices — venues compared where both run."""
    from ecommerce_etl_pipeline_spark.operators.graph import pagerank_portable

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    ints = spark.createDataFrame(edges, "src INT, dst INT")
    drv = pagerank_portable(ints, iterations=4)
    with distributed_venue():
        dist = pagerank_portable(ints, iterations=4)
    assert [(f.name, f.dataType) for f in drv.schema] == [
        (f.name, f.dataType) for f in dist.schema
    ]
    key = lambda df: {r["node"]: r["rank"] for r in df.collect()}
    assert key(drv) == key(dist)

    strs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src STRING, dst STRING"
    )
    out = pagerank_portable(strs, iterations=3)
    assert out.schema["node"].dataType.simpleString() == "string"
    assert out.count() == 3

    nulled = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 3), (2, None)], "src LONG, dst LONG"
    )
    via_probe = pagerank_portable(nulled, iterations=3)
    with distributed_venue():
        via_dist = pagerank_portable(nulled, iterations=3)
    assert key(via_probe) == key(via_dist)

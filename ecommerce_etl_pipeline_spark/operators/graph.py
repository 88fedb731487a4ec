"""Iterative graph algorithms as DataFrame loops.

PageRank (Brin & Page 1998) in its standard distributed formulation:
ranks live in a (node, rank) frame, each iteration is one join + one
map-side-combinable aggregate (contributions grouped by destination),
dangling-node mass is redistributed uniformly via a single scalar
aggregate, and the distributed venue never holds a rank vector on the
driver — the same shuffle-per-iteration shape every Pregel-style engine
runs, expressed with plain joins so Catalyst/AQE plan each round.

Iteration state management (two failure modes, both hit while building
this): (1) WITHOUT a lineage cut, each round's plan embeds the previous
round's plan TWICE (contribution join + dangling aggregate), so the
logical plan doubles per round — by round ~10 the analyzer is walking a
2^10-node tree whose duplicated broadcast subtrees all try to build at
once and the driver OOMs. Ranks are therefore localCheckpoint()ed
EAGERLY every round (plan depth O(1) per round), with the previous
round's checkpoint blocks released once the new round materializes.
(2) Loop-INVARIANT frames (edges, nodes, degrees) are persisted as
columnar caches and materialized up front — their HOF-explode upstream
has no honest size statistics, and a mis-estimated broadcast rebuilt
per round is its own OOM; after materialization every round's join
strategy is stats-driven (the repo's join doctrine).

All arithmetic is exact int64 (:func:`pagerank_portable`): integer sums
are order-independent, so every partitioning and both venues give the
same ranks bit for bit, and a fixed iteration count replays in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.operators import caches, venue
from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism


def _empty_ranks(e_raw: DataFrame) -> DataFrame:
    """Zero-row (node, rank) frame with the union-coerced endpoint type and
    bigint ranks — the answer over an empty edge list (the loops divide by
    n and cannot run at n = 0)."""
    return (
        e_raw.select(F.col(e_raw.columns[0]).alias("node"))
        .union(e_raw.select(F.col(e_raw.columns[1]).alias("node")))
        .limit(0)
        .select("node", F.lit(0).cast("bigint").alias("rank"))
    )


def _prep_graph(
    edges: DataFrame, src_col: str, dst_col: str, pre_deduped: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame, int, bool]:
    """Materialize the loop-invariant frames and bounded scalars of the
    distributed rank loop: the degree-annotated edge list, node set,
    out-degrees (all persisted with honest stats — see module docstring
    failure mode 2), the node count n (baking 1/n in as a literal keeps
    each round's plan a join + aggregate + one 1-row broadcast instead of
    two extra crossJoins whose codegen dominated first-run latency), and
    whether any dangling nodes exist (a graph with none — every symmetric
    graph, e.g. co-occurrence — skips the per-round dangling aggregate +
    broadcast entirely, half the jobs per iteration). Both scalars are the
    kmeans-centroid / bloom-sizing class of bounded driver statistic.

    The edge cache is LAYOUT-PREPARED for the loop (round-5 per-round-
    constant cut): out-degrees are joined in ONCE (deg depends only on
    src, so the per-round plan loses a join), and the cache is hash-
    partitioned on src at the session's shuffle-partition count and sorted
    within partitions — InMemoryRelation preserves both outputPartitioning
    and outputOrdering, so every round's sort-merge join streams the edge
    cache AS-IS and only the node-sized rank frame pays an exchange+sort.
    Before this, each of the N rounds re-exchanged and re-sorted the full
    edge list (measured ~25% of round cost at sf0.1).
    """
    e = ensure_parallelism(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    if not pre_deduped:
        # pre_deduped lets a caller that PROVES distinctness (e.g. the
        # symmetric mirror: a distinct forward list unioned with its
        # orientation-disjoint reverse) skip a full-edge-list re-shuffle
        e = e.distinct()
    e = caches.persist(e)
    e.count()  # materialize: honest stats + one-time edge-build cost
    nodes = caches.persist(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = caches.persist(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    n = nodes.count()
    has_dangling = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left_anti").count() > 0
    )
    nparts = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e_deg = caches.persist(
        e.join(out_deg, "src").repartition(nparts, "src").sortWithinPartitions("src")
    )
    e_deg.count()
    e.unpersist()  # superseded by e_deg for the whole loop
    return e_deg, nodes, out_deg, n, has_dangling


def _run_rank_loop(
    e: DataFrame,
    nodes: DataFrame,
    out_deg: DataFrame,
    n: int,
    has_dangling: bool,
    *,
    scale: int,
    iterations: int,
) -> DataFrame:
    """The distributed integer PageRank loop (update rule in
    :func:`pagerank_portable`). Per round: one rank-edge join + per-
    destination integer aggregate of the contributions, an optional
    dangling-mass scalar broadcast, and the rank update over the node
    frame, with the lineage cut and previous-round block release described
    in the module docstring.
    """
    zero = F.lit(0).cast("bigint")
    teleport = F.lit((15 * scale) // (100 * n)).cast("bigint")
    ranks = nodes.select(
        "node", F.lit(scale // n).cast("bigint").alias("rank")
    ).localCheckpoint()
    for _ in range(iterations):
        prev = ranks
        contribs = (
            # e carries a sort-merge hint: an edge list is corpus-scaled BY
            # DEFINITION, but its cached columnar stats undersell the hashed
            # relation a broadcast would build (~10x row-format + hash-table
            # blow-up), so a demo-sized autoBroadcastJoinThreshold (64 MiB
            # session default) would re-broadcast e EVERY round and OOM the
            # driver. This is the one join where the honest answer is known
            # statically: never broadcast the edge side; and because the
            # cache is pre-partitioned + pre-sorted on src (_prep_graph),
            # the merge join streams it with NO per-round exchange or sort
            # — the node-sized rank frame is the only exchange per round.
            ranks.join(e.hint("merge"), ranks.node == e.src)
            # integer contribution (85*r) div (100*deg): exact, and the
            # per-destination SUM is order-independent
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * rank) div (100 * deg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("recv"))
        )
        base = nodes.join(contribs, "node", "left")
        if has_dangling:
            # dangling mass: rank sitting on nodes with no out-edges
            dangling = (
                ranks.join(out_deg, ranks.node == out_deg.src, "left_anti")
                .agg(F.coalesce(F.sum("rank"), zero).alias("dm"))
            )
            base = base.crossJoin(F.broadcast(dangling))
            redist = F.expr(f"(85 * dm) div (100 * {n})")
        else:
            redist = zero
        ranks = base.select(
            "node",
            (teleport + F.coalesce(F.col("recv"), zero) + redist)
            .cast("bigint")
            .alias("rank"),
        )
        # eager checkpoint: materializes this round AND cuts lineage.
        # coalesce first: ranks are node-sized, and under a default
        # 200-shuffle-partition session ten rounds of 200-partition
        # checkpoints + reads are pure task-scheduling overhead (AQE
        # coalesces shuffle READS, not the checkpoint layout).
        ranks = ranks.coalesce(16).localCheckpoint()
        # release the previous round's node-sized checkpoint blocks —
        # localCheckpoint has no public release, so this goes through the
        # materialized RDD handle; best-effort (worst case the blocks
        # age out with the session, iterations x |nodes| rows)
        try:
            prev._jdf.queryExecution().toRdd().unpersist(False)
        except Exception:
            pass
    return ranks


#: Driver-venue budget for :func:`pagerank_portable`, in RAW probed rows
#: (the probe runs no distinct shuffle; the driver loop dedups): 4M rows
#: collect as ~64 MB of Arrow (two int64 columns) with a ~3x transient
#: numpy peak — safe in a 1 GB driver, the smallest this engine targets.
DRIVER_EDGE_ROWS = 4_000_000


def _driver_rank_loop_portable(
    spark,
    head,
    *,
    iterations: int,
    scale: int,
    symmetric: bool = False,
    node_type: str = "LONG",
) -> DataFrame:
    """In-memory twin of the distributed integer rank loop — bit-identical
    by construction: every operation is int64 arithmetic (floor div,
    scatter-add), which is order-independent, so the venue cannot change a
    single rank (pinned against the distributed path and the pure-Python
    reference in tests/test_graph.py). Node ids come from a SORTED unique
    (searchsorted index), so the result is also independent of collect
    order. ``head`` may hold RAW (duplicated) edges — dedup happens here
    on packed index pairs, one hash-unique over a single int64 key
    (cheaper than a 2-column drop_duplicates, and the edge SET is all that
    defines the graph). ``symmetric=True`` mirrors the canonical half as
    an index concat (node set and degree of the mirrored graph derive from
    it, so the unique/searchsorted work is half what materializing the
    doubled frame would cost)."""
    import numpy as np
    import pandas as pd

    src = head["src"].to_numpy()
    dst = head["dst"].to_numpy()
    # hash-unique + sort of the ~n survivors beats np.unique's O(m log m)
    # sort of all endpoint occurrences ~30x at sf0.1 graph sizes; the
    # resulting sorted id array is identical
    node_ids = np.sort(pd.unique(np.concatenate([src, dst])))
    si = np.searchsorted(node_ids, src)
    di = np.searchsorted(node_ids, dst)
    n0 = np.int64(node_ids.size)
    if int(n0) * int(n0) < 2**63:
        # dedupe: si,di < n, n^2 < 2^63, so si*n+di never wraps
        key = pd.unique(si * n0 + di)
        si, di = key // n0, key % n0
    else:
        # a raised DRIVER_EDGE_ROWS can push n past the packing bound
        # (~3e9 nodes); fall back to a 2-column hash dedupe
        kept = pd.DataFrame({"s": si, "d": di}).drop_duplicates()
        si, di = kept["s"].to_numpy(), kept["d"].to_numpy()
    if symmetric:
        si, di = np.concatenate([si, di]), np.concatenate([di, si])
    n = int(node_ids.size)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    dangling = deg == 0  # si only holds nodes with out-edges, deg[si] >= 1
    has_dangling = bool(dangling.any())
    base = (15 * scale) // (100 * n)
    r = np.full(n, scale // n, dtype=np.int64)
    # a node's contribution (85*r)//(100*deg) is constant across its
    # out-edges, so divide per NODE (O(n)) and gather per edge — the only
    # O(edges) work per iteration is one gather and one bincount. The
    # dummy divisor on dangling nodes is never read: si holds only nodes
    # with out-edges.
    deg_100 = np.where(dangling, 1, deg) * 100
    for _ in range(iterations):
        # scatter-add via bincount(weights=...): 5-10x np.add.at, and still
        # EXACT — float64 adds integers without rounding below 2^53, and
        # every partial sum here is bounded by the total rank mass
        # (~scale = 1e12 << 2^53), so the accumulation is bit-identical to
        # the int64 scatter-add at any summation order. The guard enforces
        # the bound if a caller picks a pathological scale.
        contrib = (85 * r) // deg_100
        if (85 * int(r.sum())) // 100 >= 2**53:
            recv = np.zeros(n, dtype=np.int64)
            np.add.at(recv, di, contrib[si])  # int64 scatter-add: exact
        else:
            # per-node contributions fit float64 exactly (< 2^53), so the
            # gather can read a pre-cast float array — no O(edges) astype
            recv = np.bincount(
                di, weights=contrib.astype(np.float64)[si], minlength=n
            ).astype(np.int64)
        redist = (85 * int(r[dangling].sum())) // (100 * n) if has_dangling else 0
        r = base + recv + redist
    out = spark.createDataFrame(
        pd.DataFrame({"node": node_ids, "rank": r}),
        "node LONG, rank LONG",
    )
    if node_type.lower() not in ("long", "bigint"):
        # preserve the input id type (the distributed venue inherits it
        # from the edge frame; the venues must agree on schema)
        out = out.select(F.col("node").cast(node_type), "rank")
    return out


def pagerank_portable(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 6,
    scale: int = 10**12,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank (damping 0.85) in exact INTEGER arithmetic, so the ranks
    replay bit for bit in any SQL engine (g1's oracle).

    ``symmetric=True`` declares the input UNDIRECTED with one canonical
    row per edge (``src < dst`` strictly — no self-loops, no reversed
    duplicates; violations raise in either venue). The operator then
    probes and transfers HALF the rows the directed form would, and
    materializes the mirrored direction where it's free: an index
    ``concat`` on the driver (venue-identical — the directed edge set is
    exactly ``forward + reversed``), or a ``union`` feeding
    :func:`_prep_graph`'s distinct in the distributed venue. Co-occurrence
    graphs (g1) are symmetric by construction, and at any scale the edge
    list is the dominant shuffle/transfer term, so canonical-form input
    is the same halving trick adjacency-list systems ship as standard.

    Ranks are integers in ``1/scale`` units (picoranks at the default
    1e12) and every update is integer-exact:

        r0(v)      = scale div n
        r_{t+1}(v) = (15*scale) div (100*n)
                     + sum over in-edges u->v of (85*r_t(u)) div (100*deg(u))
                     + (85*dm_t) div (100*n)          -- dangling mass, if any

    (damping 0.85 = 85/100 kept as an integer ratio; all operands stay
    under 2^57, no overflow under ANSI). Integer sums are
    ORDER-INDEPENDENT, so the result is bit-identical across partitionings
    AND replays exactly in any SQL engine — a fixed iteration count
    unrolls into recursive-free CTEs (see g1's oracle). The cost of
    portability is ≤ iterations * (scale^-1 * deg) truncation per rank —
    ~1e-12 at default scale, far below any ranking-relevant difference —
    and total mass decaying by the truncation remainders instead of
    summing to exactly 1. Per round (:func:`_run_rank_loop`): one
    rank-edge join, one map-side-combinable integer aggregate, one bounded
    scalar, lineage cut per round.

    Driver venue: up to ``DRIVER_EDGE_ROWS`` raw (not deduplicated) edge
    rows, half that when ``symmetric``, with integral, null-free ids
    (:func:`_driver_rank_loop_portable`).
    """
    e_raw = ensure_parallelism(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    # node type = the common (union-coerced) type of the two endpoint
    # columns — both venues must emit it. The driver venue additionally
    # requires it to be integral AND the probed rows to be null-free:
    # toPandas turns a nullable int column into float64/NaN, where
    # searchsorted/bincount would crash or mis-index, and the distributed
    # venue's semantics (NULL = a dangling node id) must be preserved.
    node_type = (
        e_raw.select(F.col("src").alias("node"))
        .union(e_raw.select(F.col("dst").alias("node")))
        .schema["node"]
        .dataType.simpleString()
    )
    head = None
    if node_type in ("tinyint", "smallint", "int", "bigint"):
        budget = DRIVER_EDGE_ROWS // 2 if symmetric else DRIVER_EDGE_ROWS
        head = venue.driver_rows(e_raw, budget, "pagerank_portable")
    if head is not None and len(head) == 0:
        # empty edge list: both loop venues would divide by n = 0; the
        # rank frame over zero nodes is well-defined — return it directly
        return _empty_ranks(e_raw)
    if (
        head is not None
        and not head["src"].isna().any()
        and not head["dst"].isna().any()
    ):
        if symmetric and not (head["src"] < head["dst"]).all():
            raise ValueError(
                "pagerank_portable(symmetric=True) requires canonical "
                "undirected edges (src < dst strictly); pass the "
                "directed list with symmetric=False instead"
            )
        return _driver_rank_loop_portable(
            edges.sparkSession,
            head,
            iterations=iterations,
            scale=scale,
            symmetric=symmetric,
            node_type=node_type,
        )
    if symmetric:
        # over budget: the driver venue validates canonical form (src < dst
        # strictly) on its collected rows; the distributed venue must refuse
        # the same inputs — a reversed duplicate or self-loop would survive
        # the mirror below (pre_deduped=True skips _prep_graph's distinct)
        # and silently double-count. NULL-aware: a row is canonical only
        # when src < dst is TRUE, so NULL endpoints are refused too (the
        # driver venue's NaN comparison already refuses them). The check is
        # effectively free: e0 is persisted FIRST, so the validation scan
        # doubles as the cache materialization and the union's two branches
        # below read the cache instead of re-executing the edge pipeline
        # twice (what the pre-validation code paid anyway).
        e0 = caches.persist(e_raw.distinct())
        if not e0.filter(
            ~F.coalesce(F.col("src") < F.col("dst"), F.lit(False))
        ).isEmpty():
            e0.unpersist()
            raise ValueError(
                "pagerank_portable(symmetric=True) requires canonical "
                "undirected edges (src < dst strictly); pass the "
                "directed list with symmetric=False instead"
            )
        # mirror relationally; the orientations are disjoint on canonical
        # input so no distinct is needed
        directed = e0.union(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        e, nodes, out_deg, n, has_dangling = _prep_graph(
            directed, "src", "dst", pre_deduped=True
        )
        e0.unpersist()  # superseded by _prep_graph's layout-prepared cache
    else:
        e, nodes, out_deg, n, has_dangling = _prep_graph(edges, src_col, dst_col)
    if n == 0:
        for f in (e, nodes, out_deg):
            f.unpersist()
        return _empty_ranks(e_raw)
    return _run_rank_loop(
        e, nodes, out_deg, n, has_dangling, scale=scale, iterations=iterations
    )

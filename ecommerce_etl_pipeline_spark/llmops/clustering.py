"""Iterative/ML-assisted llmops operators: duplicate-cluster resolution
(connected components) and IVF approximate nearest neighbors.

Both are the canonical "beyond one SQL query" shapes: connected components
is an iterative fixpoint (non-SQL-expressible — rows-only checked), IVF
uses a trained coarse quantizer (:func:`kmeans_train_portable`) as its
bucketer.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve from here

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_etl_pipeline_spark.operators import caches, venue


#: Driver-venue budget of :func:`connected_components`, in undirected
#: edges (twice the directed probe rows): 2M edges is about 32 MB on the
#: driver. Candidate graphs are duplicate-density-sized, so most corpora
#: land far under it even at 100 TB.
SMALL_GRAPH_EDGES = 2_000_000


def _union_find_components(edge_rows) -> list[tuple]:
    """Driver venue of :func:`connected_components`; NULL endpoints as
    label propagation's equi-joins treat them."""
    parent: dict = {}
    saw_null = False

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is None or b is None:
            saw_null = True
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the representative is the min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return rows + [(None, None)] if saw_null else rows


def _probed_ids(col, integral: bool) -> list | None:
    """Python values of one probed id column, NULL as None. pandas widens a
    nullable integer column to float64, exact only below 2**53: a wider id
    returns None (take the distributed venue)."""
    vals = [None if v != v else v for v in col.tolist()]  # NaN is a NULL
    if not (integral and col.dtype.kind == "f"):
        return vals
    if any(v is not None and abs(v) >= 2**53 for v in vals):
        return None
    return [None if v is None else int(v) for v in vals]


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc1",
    dst: str = "doc2",
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    components. Returns (node, component) where component = min doc_id of
    the cluster; the component representative is the canonical document.
    A NULL endpoint joins no component and appears once as (NULL, NULL).

    Driver venue: up to ``SMALL_GRAPH_EDGES // 2`` directed pair rows, any
    id type, run as union-find with path compression (O(E α(E)) locally
    beats O(diameter) rounds of job-launch overhead by ~10x).

    Distributed venue: iterative min-label propagation. Each node
    repeatedly adopts the minimum label among itself and its neighbors
    (hash-join + groupBy per round, O(diameter) rounds — near-dup graphs
    have tiny diameters). Edges and each round's labels are cached so
    round N+1 never replays round N's lineage (at cluster scale swap
    cache() for checkpoint every few rounds); convergence is detected from
    a MONOTONE invariant — labels only ever decrease, so sum(component) is
    stationary exactly at the fixpoint — one cheap aggregate per round
    instead of a changed-rows self-join. The returned labels stay cached
    (materialized by the convergence aggregate) for the caller's scope.
    """
    from pyspark.sql.types import IntegralType

    spark = pairs.sparkSession
    directed = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    head = venue.driver_rows(directed, SMALL_GRAPH_EDGES // 2, "connected_components")
    if head is not None:
        a, b = (
            _probed_ids(head[c], isinstance(directed.schema[c].dataType, IntegralType))
            for c in ("a", "b")
        )
        if a is not None and b is not None:
            # union-find consumes undirected edges as-is (duplicates are
            # no-ops), so no symmetrize/distinct shuffle is needed
            schema = pairs.select(
                F.col(src).alias("node"), F.col(src).alias("component")
            ).schema
            return spark.createDataFrame(_union_find_components(zip(a, b)), schema)

    directed = caches.persist(directed)

    edges = caches.persist(
        directed.union(directed.select(F.col("b"), F.col("a"))).distinct()
    )
    edges.count()
    directed.unpersist()

    labels = caches.persist(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    # decimal(38,0) running sum: overflow-proof however many nodes
    total = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = caches.persist(
            labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
            )
        )
        new_total = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels.unpersist()
        labels = new_labels
        if new_total == total:
            break
        total = new_total
    edges.unpersist()
    return labels


def _assign_arrow_udf(centroids: list[list[float]], cids: list[int] | None = None):
    """The nearest-centroid kernel: a SCALAR Arrow-batched pandas UDF
    mapping a vector column to its (cluster, dist) struct against a fixed
    centroid matrix (ids ``cids``, default ``0..k-1``, in ascending order).

    Invariants, which the DuckDB oracles (list_sum, ORDER BY dist, cid)
    and the pure-Python references in tests/test_llmops_algos.py replay
    bit for bit:

    - each squared distance accumulates sequentially over the dim axis
      (``d = x - c; acc += d * d`` per element index, from 0.0), never
      pairwise;
    - ties go to the first argmin, the lowest cid;
    - a NULL or wrong-width vector assigns to the lowest cid with a NULL
      dist.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    ids = list(range(k)) if cids is None else [int(c) for c in cids]

    # the function name is the UDF name query plans show
    @F.pandas_udf(
        StructType(
            [
                # long: a bigint cid must not overflow inside the batch;
                # callers cast back to their cid type
                StructField("cluster", LongType()),
                StructField("dist", DoubleType()),
            ]
        )
    )
    def nearest_centroid_kernel(vec: pd.Series) -> pd.DataFrame:
        vals = vec.to_numpy()
        ok = np.array([v is not None and len(v) == dim for v in vals], dtype=bool)
        cl = np.full(len(vals), ids[0] if k else None, dtype=object)
        dist = np.full(len(vals), None, dtype=object)
        if ok.any():
            X = np.stack(vals[ok]).astype(np.float64)
            acc = np.zeros((len(X), k), dtype=np.float64)
            for t in range(dim):
                d = X[:, t, None] - C[None, :, t]
                acc += d * d
            best = acc.argmin(axis=1)
            bestd = acc[np.arange(len(X)), best]
            for i, j, dv in zip(np.flatnonzero(ok), best, bestd):
                cl[i] = ids[j]
                dist[i] = float(dv)
        return pd.DataFrame({"cluster": cl, "dist": dist})

    return nearest_centroid_kernel


def assign_to_seeds(
    points: DataFrame,
    seeds: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_id_col: str = "cid",
    seed_vec_col: str = "cvec",
) -> DataFrame:
    """Nearest-seed assignment (squared Euclidean, ties to lowest seed id):
    returns (id, cluster, dist, vec). The seeds are hyperparameter-sized,
    so they are collected once at build time (the same bounded class as a
    join statistic) into the nearest-centroid kernel
    (:func:`_assign_arrow_udf`); each point is then one narrow pass, with
    zero shuffles and no |points| x k fan-out. Empty seeds give an empty
    result. Shared by :func:`kmeans_step` (which aggregates it),
    :func:`ivf_topk_portable`, ``similarity.ivfpq_topk``,
    ``streams.ann_index_stream`` and ``dedup.semantic_dedup`` (which uses
    clusters as dedup candidate buckets)."""
    p = points.select(F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pv"))
    s = seeds.select(
        F.col(seed_id_col).alias("_cid"), F.col(seed_vec_col).alias("_cv")
    )
    cid_type = s.schema["_cid"].dataType.simpleString()
    rows = sorted(
        ((r["_cid"], [float(x) for x in r["_cv"]]) for r in s.collect()),
        key=lambda rc: (rc[0], rc[1]),
    )
    if not rows:
        return p.filter(F.lit(False)).select(
            F.col("_pid").alias("id"),
            F.lit(None).cast(cid_type).alias("cluster"),
            F.lit(None).cast("double").alias("dist"),
            F.col("_pv").alias("vec"),
        )
    udf = _assign_arrow_udf([cv for _, cv in rows], cids=[c for c, _ in rows])
    return p.withColumn("_a", udf(F.col("_pv"))).select(
        F.col("_pid").alias("id"),
        F.col("_a.cluster").cast(cid_type).alias("cluster"),
        F.col("_a.dist").alias("dist"),
        F.col("_pv").alias("vec"),
    )


def kmeans_step(
    points: DataFrame,
    seeds: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_id_col: str = "cid",
    seed_vec_col: str = "cvec",
) -> DataFrame:
    """One Lloyd iteration as a pure DataFrame plan: assign every point to
    its nearest seed centroid (squared Euclidean, ties to the lowest
    centroid id), then aggregate per-cluster statistics — member count,
    mean assignment distance, and the L2 norm of the RECOMPUTED centroid
    (derived from per-dimension sums: ||mean|| = sqrt(sum_d sv_d^2)/n, so
    no second pass over the data).

    The scale shape of every centroid-model trainer: seeds are k rows and
    BROADCAST (bounded by construction — k is a hyperparameter, not a data
    size), the corpus is scanned once, the per-dimension aggregation is
    one map-side-combined shuffle of k*dim cells, and the driver never
    sees a vector. Iterating = feeding the recomputed centroids back in,
    which :func:`kmeans_train_portable` does.

    Returns (cluster, n_members, avg_dist, centroid_norm) — avg_dist /
    centroid_norm unrounded; oracle queries round both sides.
    """
    assigned = assign_to_seeds(
        points,
        seeds,
        id_col=id_col,
        vec_col=vec_col,
        seed_id_col=seed_id_col,
        seed_vec_col=seed_vec_col,
    ).select("cluster", "dist", "vec")

    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"), F.avg("dist").alias("avg_dist")
    )
    dims = (
        assigned.select("cluster", F.posexplode("vec").alias("d", "val"))
        .groupBy("cluster", "d")
        .agg(F.sum(F.col("val").cast("double")).alias("sv"))
        .groupBy("cluster")
        .agg(F.sqrt(F.sum(F.col("sv") * F.col("sv"))).alias("s2"))
    )
    return stats.join(dims, "cluster").select(
        "cluster",
        "n_members",
        "avg_dist",
        (F.col("s2") / F.col("n_members")).alias("centroid_norm"),
    )


def _driver_kmeans_loop_portable(
    X, centroids: list[list[float]], *, iterations: int, nano: int
) -> list[list[float]]:
    """The driver venue of :func:`kmeans_train_portable`: the identical
    loop over an in-memory float64 matrix. Bit-parity with the
    distributed venue holds term by term — assignment distances are the
    same sequential per-dim accumulation of exactly-rounded squares the
    nearest-centroid kernel computes (first-argmin = tie-to-lowest-cid);
    per-cluster sums are int64 over the same ``floor(x*1e9 + 0.5)``
    quantization (integer, order-independent, overflow-guarded by the
    caller); the centroid update reuses the exact ``(float(sum)/count)
    /nano`` expression. Pinned venue-vs-venue in
    tests/test_llmops_algos.py and end-to-end by the ml_kmeans_train /
    sim_ivf_topk oracles."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    Q = np.floor(X * np.float64(nano) + np.float64(0.5)).astype(np.int64)
    for _ in range(iterations):
        acc = np.zeros((len(X), k), dtype=np.float64)
        for t in range(dim):
            d = X[:, t, None] - C[None, :, t]
            acc += d * d
        assign = acc.argmin(axis=1)
        new_c = [[float(v) for v in c] for c in C]  # empty clusters keep position
        for ci in range(k):
            members = assign == ci
            cnt = int(members.sum())
            if cnt:
                sv = Q[members].sum(axis=0)
                new_c[ci] = [(float(int(x)) / cnt) / nano for x in sv]
        C = np.asarray(new_c, dtype=np.float64)
    return [[float(v) for v in c] for c in C]


def _probed_vectors(head, pts: DataFrame, k: int):
    """Seeds and driver matrix of :func:`kmeans_train_portable` from its
    cell probe: ``(seeds, X)``. ``seeds`` are the (id, vector) pairs of the
    k lowest ids, NULL first as ``orderBy`` sorts them, with vector None
    when it is NULL or empty. ``X`` is None when a vector is NULL, empty,
    ragged, off the seed width or not finite. Returns None when the ids
    do not survive pandas exactly (take the seed query)."""
    import numpy as np
    from pyspark.sql.types import IntegralType

    if head.empty:
        return [], None
    head = head.sort_values(["_r", "_d"], kind="stable")
    r = head["_r"].to_numpy()
    start = np.flatnonzero(np.r_[True, r[1:] != r[:-1]])
    end = np.r_[start[1:], len(r)]
    integral = isinstance(pts.schema["_pid"].dataType, IntegralType)
    ids = _probed_ids(head["_pid"].iloc[start], integral)
    if ids is None:
        return None
    lowest = sorted(range(len(ids)), key=lambda i: (ids[i] is not None, ids[i]))[:k]
    d, x = head["_d"].to_numpy(), head["_x"].astype("float64").to_numpy()
    seeds = [
        (
            ids[i],
            None if d[start[i]] != d[start[i]] else [float(v) for v in x[start[i] : end[i]]],
        )
        for i in lowest
    ]
    X = None
    if not head["_d"].isna().any():  # every vector, so every seed, has a cell
        dim = len(seeds[0][1])
        if ((end - start) == dim).all():
            X = x.reshape(len(start), dim)
            if not np.isfinite(X).all():
                X = None
    return seeds, X


def kmeans_train_portable(
    points: DataFrame,
    *,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 5,
    nano: int = 10**9,
) -> list[list[float]]:
    """Lloyd's k-means whose every cross-engine-sensitive step is made
    engine-portable, so the trained centroids replay bit for bit in DuckDB
    (the pagerank_portable doctrine applied to a centroid trainer). Seeds
    are the k lowest-``id_col`` rows (no RNG) and ties go to the lowest
    centroid id, so results are identical across runs and partitionings:

    - per-dimension member sums run over NANO-QUANTIZED values
      (``floor(x*1e9 + 0.5)`` as bigint — txt_unigram_logprob's trick),
      so the sums are INTEGER and order-independent;
    - centroid_d = (double(sum_nano) / n) / 1e9 — the integer sum is
      rounded to a double FIRST (matching the oracle's
      ``CAST(SUM(..) AS DOUBLE) / COUNT``); int->double conversion and
      division are both IEEE-defined, so the replay is bit-identical in
      Python, Spark and DuckDB at any sum magnitude (not just < 2^53);
    - a FIXED iteration count, no tolerance early stop (a data-driven
      break cannot unroll into SQL);
    - assignment runs the nearest-centroid kernel, whose sequential
      per-dim accumulation DuckDB's list_sum replays exactly.

    Cost of portability: ~1e-9 per-dimension truncation per round —
    invisible to any assignment that isn't already a coin flip. Returns
    the final centroid matrix (k x dim floats).

    Driver venue: up to ``venue.DRIVER_CELLS`` vector cells, every vector
    of the seed width with no nulls or NaNs, and int64-exact nano sums
    (:func:`_driver_kmeans_loop_portable`); otherwise the distributed loop
    runs. The probe counts cells (one probed row per element, one for a
    NULL or empty vector), so it needs no width up front, and under budget
    it also holds the seeds: one Spark job in all.

    Inputs the loops do not model get one answer in both venues: an empty
    frame returns ``[]``; a NULL or empty seed vector raises ``ValueError``
    naming its id.
    """
    import numpy as np

    pts = points.select(F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pv"))
    # _r numbers the vectors BEFORE the explode (in the same select it
    # would number the cells)
    cells = pts.withColumn("_r", F.monotonically_increasing_id()).select(
        "_r", "_pid", F.posexplode_outer("_pv").alias("_d", "_x")
    )
    head = venue.driver_rows(cells, venue.DRIVER_CELLS, "kmeans_train_portable")
    probed = None if head is None else _probed_vectors(head, pts, k)
    if probed is None:
        seeds = [(r["_pid"], r["_pv"]) for r in pts.orderBy("_pid").limit(k).collect()]
        X = None
    else:
        seeds, X = probed
    for sid, v in seeds:
        if not v:
            raise ValueError(
                f"kmeans_train_portable: seed vector of {id_col}={sid!r} "
                "is NULL or empty"
            )
    centroids = [[float(x) for x in v] for _, v in seeds]
    if not centroids:
        return []
    if X is not None:
        # every quantized term is at most max|x| * nano + 1 in magnitude
        qmax = float(np.abs(X).max(initial=0.0)) * nano + 1.0
        if venue.fits_int64_sum(len(X), qmax):
            return _driver_kmeans_loop_portable(
                X, centroids, iterations=iterations, nano=nano
            )
    dim = len(centroids[0])
    q = F.floor(F.col("_v").cast("double") * nano + F.lit(0.5)).cast("bigint")
    for _ in range(iterations):
        nearest = _assign_arrow_udf(centroids)(F.col("_pv"))["cluster"]
        assigned = pts.select("_pv", nearest.cast("int").alias("_cluster"))
        sums = (
            assigned.select("_cluster", F.posexplode("_pv").alias("_d", "_v"))
            .groupBy("_cluster", "_d")
            .agg(F.sum(q).alias("_sv"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty clusters keep position
        counts: dict[int, int] = {}
        per_dim: dict[int, list[int]] = {}
        for r in sums:
            per_dim.setdefault(r["_cluster"], [0] * dim)[r["_d"]] = r["_sv"]
            counts[r["_cluster"]] = r["_n"]
        for ci, sv in per_dim.items():
            # float(x) FIRST: the oracle divides CAST(sum AS DOUBLE)/count,
            # i.e. it rounds the integer sum to a double before dividing.
            # Python's int/int true division instead rounds the exact
            # rational, which diverges once |sum_nano| >= 2^53 (r4 ADVICE).
            # Both engines convert int->double round-to-nearest-even and
            # divide per IEEE 754, so double(sum)/count matches DuckDB at
            # ANY magnitude — no 2^53 precondition needed.
            new_centroids[ci] = [(float(x) / counts[ci]) / nano for x in sv]
        centroids = new_centroids
    return centroids


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 2,
    k: int = 10,
    iterations: int = 5,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    every corpus vector to its nearest centroid cell; each query probes
    its ``n_probe`` closest cells and ranks only those members. The
    quantizer is :func:`kmeans_train_portable` (deterministic lowest-id
    seeds, integer-nano centroid updates, fixed iteration count), so the
    trained centroids, every cell assignment, every probe choice and the
    final cosine ranking all replay bit-for-bit in DuckDB as unrolled
    CTEs — the whole ANN index build is a checkable quantity, not just
    its recall.

    Scale shape: centroids are hyperparameter-sized; corpus assignment is
    one narrow scan of the nearest-centroid kernel (zero shuffles); probes
    are |queries| x n_probe rows and broadcast into the candidate join, so
    each query ranks ~corpus * n_probe / n_cells members instead of the
    full corpus; recall rises with n_probe at linear candidate cost. Ties
    everywhere go to the lowest cid / neighbor_id, the engine-portable
    order. An empty corpus gives an empty result; a NULL seed vector
    raises (see :func:`kmeans_train_portable`).
    """
    centroids = kmeans_train_portable(
        corpus, k=n_cells, id_col=id_col, vec_col=vec_col,
        iterations=iterations,
    )
    spark = corpus.sparkSession
    seeds = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cid INT, cvec ARRAY<DOUBLE>"
    )
    # corpus -> cell, replayed by the oracle's af CTE
    assigned = assign_to_seeds(corpus, seeds, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
        F.col("vec"),
    )

    # query -> n_probe nearest cells: the sequential distance fold, then a
    # slice of the (dist, cid)-sorted array — lexicographic struct sort =
    # ORDER BY dist, cid
    from ecommerce_etl_pipeline_spark.llmops.similarity import cosine

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    seed_row = seeds.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid").alias("_cid"), F.col("cvec").alias("_cv")))
        ).alias("_seeds")
    )
    dist_to = lambda cv: F.aggregate(  # noqa: E731
        F.zip_with(
            F.col("_qv"), cv, lambda a, b: (a.cast("double") - b.cast("double")) ** 2
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = (
        q.crossJoin(F.broadcast(seed_row))
        .filter(F.size("_seeds") > 0)
        .withColumn(
            "_probe",
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("_seeds"),
                        lambda sd: F.struct(
                            dist_to(sd["_cv"]).alias("dist"),
                            sd["_cid"].alias("cell"),
                        ),
                    )
                ),
                1,
                n_probe,
            ),
        )
        .select("query_id", "_qv", F.explode("_probe.cell").alias("cell"))
    )

    # candidates: cell assignment is unique per corpus vector, so a
    # (query, neighbor) pair appears at most once — no dedup needed
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("_qv"), F.col("vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
